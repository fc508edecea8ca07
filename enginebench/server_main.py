"""Engine server process of the wire workloads: a ``QueryServer`` on the
pinned Spark session.  Prints ``PORT <n>`` once listening and shuts down
when its standard input closes.

Usage: python3 server_main.py <run-dir>
"""

from __future__ import annotations

import sys
from pathlib import Path

from common import ROOT, engine_session, stop_engine


def main() -> None:
    sys.path.insert(0, str(ROOT))
    from ophidia_io_server_spark.server import QueryServer

    spark = engine_session(Path(sys.argv[1]))
    server = QueryServer(spark)
    server.serve_background()
    print("PORT", server.address[1], flush=True)
    try:
        sys.stdin.read()
    finally:
        server.shutdown()
        server.server_close()
        stop_engine(spark)


if __name__ == "__main__":
    main()
