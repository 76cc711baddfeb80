"""Drive __spark_entry__.py exactly like the verify driver would:
a plain SparkSession (none of our engine confs), entry() smoke, then
each queries()[name] at sf0.01 compared with oracle_sql()[name] via
DuckDB. This is the end-to-end surface of the repo."""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod  # noqa: E402
from tools.check import check_all, oracle_db  # noqa: E402

SF = "/root/testdata/sf0.01"


def main():
    names = sys.argv[1:] or None
    # Deliberately bare session — the driver won't set our ENGINE
    # confs (that's the point of the sim).  Heap is provisioning, not
    # an engine conf: the suite_* digests union ~40 member plans into
    # one DataFrame, and the 1 GB local-mode default OOMs on plan +
    # codegen state (observed round 8) while the real driver's box is
    # provisioned larger (suite_analytics green in CORRECTNESS_r07).
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    res = entrymod.entry(spark)
    rows = res.count()
    print(f"entry(): {rows} rows, schema: {[f'{c}:{t}' for c, t in res.dtypes]}")
    assert rows > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    todo = [(name, fn, oracles.get(name)) for name, fn in qs.items() if not names or name in names]
    failed = check_all(spark, oracle_db(SF), todo, SF)
    print("FAILED:", failed) if failed else print("all queries match")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
