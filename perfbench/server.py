"""Search server process for the serve workloads.

    python3 perfbench/server.py <index_dir> <trace_json or "-">

Starts ``plans.serve.make_server`` on a free local port and prints
``READY <port> <engine_open_s>``. Each line read from stdin is a command,
answered with ``OK <command>``: ``TRACE ON`` / ``TRACE OFF`` switch span
recording; ``CPU`` adds the CPU seconds the server process (every thread,
from its start) has used so far. End of stdin shuts the server down and,
when a trace path was given, writes the spans there.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hooks import install_search_hooks  # noqa: E402
from spans import Tracer  # noqa: E402

from web_search_engine_spark.plans import search as search_mod  # noqa: E402
from web_search_engine_spark.plans.serve import (  # noqa: E402
    make_server,
    serve_forever_in_thread,
)


def main() -> None:
    index_dir, trace_path = sys.argv[1], sys.argv[2]
    tracer = Tracer(enabled=False)
    opened = []
    init = search_mod.SearchEngine.__init__

    def timed_init(self, *a, **kw):
        t0 = time.perf_counter()
        init(self, *a, **kw)
        opened.append(time.perf_counter() - t0)

    search_mod.SearchEngine.__init__ = timed_init
    if trace_path != "-":
        install_search_hooks(tracer)
    server = make_server(index_dir)
    if trace_path != "-":
        handler = server.RequestHandlerClass
        post = handler.do_POST

        def do_post(self):
            tracer.set_request(self.headers.get("X-Request-Id"))
            with tracer.span("serve.request"):
                post(self)

        handler.do_POST = do_post
    serve_forever_in_thread(server)
    print(f"READY {server.server_address[1]} {opened[0]:.6f}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "TRACE ON":
            tracer.enabled = True
        elif cmd == "TRACE OFF":
            tracer.enabled = False
        elif cmd == "CPU":
            cmd += f" {time.process_time():.9f}"
        print(f"OK {cmd}", flush=True)
    server.shutdown()
    server.server_close()
    if trace_path != "-":
        tracer.dump(trace_path)


if __name__ == "__main__":
    main()
