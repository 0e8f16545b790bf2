"""Regenerate plans/member_dtypes.py — the pinned Spark dtype
signature of every digest-suite member query.

The pin is the one per-member schema record: the digest derives each
column's canonicalization class ('v'/'d'/'t') from it, and its h3
column folds the member's EXACT dtype string on the Spark side and
this pinned signature on the DuckDB side, so any dtype drift
(int→bigint, decimal precision, …) flips the driver row even when the
class is unchanged.

Adding a suite member is one step after listing it in SUITES: run

    python scripts/gen_member_dtypes.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry  # noqa: E402
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (  # noqa: E402
    SUITES,
    dtype_signature,
)

SF_DIR = "/root/testdata/sf0.001"

OUT = os.path.join(
    REPO, "spotify_serverless_etl_pipeline_engineering_with_azure_spark", "plans", "member_dtypes.py"
)

HEADER = '''"""Pinned Spark dtype signatures per digest-suite member —
GENERATED by scripts/gen_member_dtypes.py; regenerate after changing a
member's schema. The digest folds the member's actual dtypes against
this pin (plans/suites.py h3), so editing a member without regenerating
flips its suite row red — that is the point.
"""

MEMBER_DTYPES: dict[str, str] = {
'''


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry.load_all()
    members = sorted({m for ms in SUITES.values() for m in ms})
    lines = []
    for m in members:
        df = reg[m].fn(spark, SF_DIR)
        lines.append(f"    {m!r}: {dtype_signature(df)!r},\n")
    with open(OUT, "w", encoding="utf-8") as f:
        f.write(HEADER)
        f.writelines(lines)
        f.write("}\n")
    print(f"wrote {len(members)} signatures to {OUT}")


if __name__ == "__main__":
    main()
