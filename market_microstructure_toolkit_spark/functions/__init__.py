"""Column-level expression builders (the engine's scalar function library).

Every function here returns a ``pyspark.sql.Column`` built purely from
Catalyst built-ins — null-propagating, whole-stage-codegen friendly, no
Python UDFs.
"""

from market_microstructure_toolkit_spark.functions.microstructure import (  # noqa: F401
    book_slope,
    imbalance_depth_k,
    imbalance_l1,
    microprice,
    microprice_imbalance_bps,
    mid,
    notional_depth,
    relative_spread_bps,
    spread,
)
from market_microstructure_toolkit_spark.functions.arrays import (  # noqa: F401
    ladder_from_wide,
    valid_levels,
    walk_book,
)
from market_microstructure_toolkit_spark.functions.decimal_sum import (  # noqa: F401
    exact_decimal_sum,
)
