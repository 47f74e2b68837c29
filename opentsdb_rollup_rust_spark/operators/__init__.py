from .points import derive_points  # noqa: F401
from .rollup import tumbling_rollup, cascade_reagg, derived_avg, preaggregate  # noqa: F401
from .gapfill import gap_fill  # noqa: F401
from .skew import salted_rollup, topk_hot_series  # noqa: F401
