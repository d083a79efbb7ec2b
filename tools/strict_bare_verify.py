"""The oracle gate (``verify_local.run``) on a BARE ``SparkSession.builder``.

The session carries no parity confs, as a driver that builds its own
session would; this catches any hidden dependence on UTC/Arrow/AQE
session settings, which ``sources.tables.load_table`` must self-apply.

Run it from OUTSIDE the repo (cwd independence is part of the check):

    cd /tmp && python <checkout>/tools/strict_bare_verify.py \
        /root/testdata/sf0.01 <query> [query ...]

Window gates pass the 50 names from queries() order (positions 1-50 =
the driver window; see plans/registry.py _PRIORITY).
"""

import sys

from pyspark.sql import SparkSession

from verify_local import run


def main():
    spark = SparkSession.builder.master("local[32]").appName("bare").getOrCreate()
    sys.exit(1 if run(spark, sys.argv[1], sys.argv[2:]) else 0)


if __name__ == "__main__":
    main()
