"""Plan inspection: make the physical plan a testable artifact.

The reference's execution transparency is its code — you can read the kernel
that will run (`src/kernels/…`). On Spark the equivalent visibility is the
physical plan, so this module turns plan properties into values: the
shuffle and broadcast counts that perfbench's per-layer trace reports. The
pushdown, scan-schema and codegen audits that only tests run live in
tests/test_plans.py.
"""

from minarrow_spark.plans.inspect import count_exchanges

__all__ = ["count_exchanges"]
