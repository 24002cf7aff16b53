from minarrow_spark.functions.arithmetic import (
    dec,
    exact_sum,
    floordiv,
    remainder,
    table_op,
    try_div,
)
from minarrow_spark.functions.strings import (
    byte_length,
    char_length,
    count_match,
    find0,
)
from minarrow_spark.functions.datetimes import (
    date_str,
    epoch_micros,
    epoch_seconds,
    is_leap_year,
    iso_dow,
    iso_week,
)

__all__ = [
    "dec", "exact_sum", "floordiv", "remainder", "table_op", "try_div",
    "byte_length", "char_length", "count_match", "find0", "date_str",
    "epoch_micros", "epoch_seconds", "is_leap_year", "iso_dow", "iso_week",
]
