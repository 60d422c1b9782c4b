"""The benchmark's Flight SQL server process.

Assembled like ``scripts/serve_flight.py`` — ``get_spark`` →
``engine_catalog_from_env`` (``CATALOG_URL=sqlite://…``) →
``EngineService`` → ``SparkFlightServer`` — with one set-up step in
front: once the runner has written the generated Parquet (signalled by
``<data>/_READY``), the listed tables are loaded into a fresh Iceberg
catalog through ``sources.iceberg_lite``.

    python3 perfbench/server.py --data DIR --tables orders,lineitem \
        [--trace-out spans.json]

Prints one ``READY {json}`` line on stdout once it answers Flight
calls.  Then reads commands from stdin: ``stats`` prints a ``STATS
{json}`` line; ``stop`` (or end of input) writes the spans, if traced,
and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_datafusion_arrow_flight_spark import get_spark  # noqa: E402
from iceberg_datafusion_arrow_flight_spark.service import (  # noqa: E402
    EngineService)
from iceberg_datafusion_arrow_flight_spark.service.flight_server import (  # noqa: E402
    serve_background)
from iceberg_datafusion_arrow_flight_spark.sources.registry import (  # noqa: E402
    load_table)
from iceberg_datafusion_arrow_flight_spark.sources.rest_catalog import (  # noqa: E402
    engine_catalog_from_env)

import probes  # noqa: E402
import tracing  # noqa: E402

NAMESPACE = "bench"


def _wait_for(path: str, timeout_s: float = 120.0) -> None:
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"no input data at {path}")
        time.sleep(0.02)


def _emit(tag: str, payload: dict) -> None:
    print(f"{tag} {json.dumps(payload)}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--tables", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    tracer = None
    if args.trace_out:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    t0 = time.time()
    spark = get_spark(app_name="perfbench-flight-sql-server")
    booted = time.time()
    _wait_for(os.path.join(args.data, "_READY"))
    catalog = engine_catalog_from_env()

    def load(name: str) -> None:
        df = load_table(spark, args.data, name)
        catalog.create_table(NAMESPACE, name, df).append(df)
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(load, t) for t in args.tables.split(",")]:
            f.result()
    loaded = time.time()
    service = EngineService(spark, catalog=catalog)
    server, _thread = serve_background(service, port=0)
    _emit("READY", {"port": server.port, "ui": spark.sparkContext.uiWebUrl,
                    "boot_s": booted - t0, "catalog_s": loaded - booted})
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "stats":
                _emit("STATS", {"sessions_live": len(service.sessions),
                                "result_cache_entries": len(service.results)})
            elif cmd == "stop":
                break
    finally:
        if tracer is not None:
            tracer.dump(args.trace_out)
        server.shutdown()
        probes.stop_spark(spark)


if __name__ == "__main__":
    main()
