"""Plan inspection: make the physical plan a testable artifact.

The reference's execution transparency is its code — you can read the kernel
that will run (`src/kernels/…`). On Spark the equivalent visibility is the
physical plan, so this module turns plan properties (shuffle count, pushed
filters, scan schema, codegen coverage) into values tests can assert on.
Used by tests/test_scale_ops.py and the SCALE.md shuffle-inventory audit.
"""

from minarrow_spark.plans.inspect import (
    count_exchanges,
    plan_summary,
    pushed_filters,
    read_schemas,
)

__all__ = [
    "count_exchanges",
    "plan_summary",
    "pushed_filters",
    "read_schemas",
]
