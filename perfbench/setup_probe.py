"""Time one ``session.get_spark`` call in a fresh process; print the seconds.

    python3 perfbench/setup_probe.py <cpus> '<extra_conf as JSON>'

run.py starts this with its own environment (driver heap, local dirs,
PYTHONPATH) to sample set-up time more than once per run.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    from map_reduce_engine_spark.session import get_spark
    from sessions import shutdown

    cpus, conf = int(sys.argv[1]), json.loads(sys.argv[2])
    t = time.perf_counter()
    spark = get_spark(cpus=cpus, extra_conf=conf)
    elapsed = time.perf_counter() - t
    shutdown(spark)
    print(elapsed)


if __name__ == "__main__":
    main()
