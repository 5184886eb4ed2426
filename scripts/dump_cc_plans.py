"""Dump the formatted plan of the connected-components ``labels`` frame
(the first-round ``(u, component)`` frame ``connected_components``
persists) as a query's pipeline builds it, into
plans/r16/<query>_<suffix>.txt.

The returned frame of a CC query starts from a checkpointed round, so
its own plan no longer shows how the edge list was read; the labels
frame does. Running the same script on two checkouts gives a
before/after pair:

  SPARK_GRAFT_SF_DIR=<sf dir> python scripts/dump_cc_plans.py before [query ...]
  SPARK_GRAFT_SF_DIR=<sf dir> python scripts/dump_cc_plans.py after  [query ...]

The query defaults to ``canonical_by_quality_documents``; the r16 pair
was dumped at sf0.1 with ``SPARK_GRAFT_CPUS=4``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from mydatalake_spark.caching import release, release_all  # noqa: E402
from mydatalake_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")


def formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    suffix, names = sys.argv[1], sys.argv[2:] or [
        "canonical_by_quality_documents"
    ]
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r16",
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(
        app_name="dump-cc-plans",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    persist = DataFrame.persist
    for name in names:
        labels = []

        def recording(self, *args, **kwargs):
            if not labels and self.columns == ["u", "component"]:
                labels.append(self)
            return persist(self, *args, **kwargs)

        DataFrame.persist = recording
        try:
            df = qs[name](spark, SF_DIR)
        finally:
            DataFrame.persist = persist
        if not labels:
            raise SystemExit(f"{name}: no connected-components labels frame")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted(spark, labels[0]))
        release(df)
        release_all()
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
