from .asof import asof_join
from .windows import cumprod, normalize_to_last
from .factors import (
    adjust_bars,
    attach_id,
    prep_dividends,
    prep_splits,
)
from .gaps import (
    day_edges,
    guess_split_ratio,
    infer_gap_ratios,
    merge_declared_with_inferred,
)
from .minute_path import (
    adjust_minute_bars,
    dividend_factors_from_days,
    effective_day_factors,
    split_factors_from_days,
)

__all__ = [
    "asof_join",
    "cumprod",
    "normalize_to_last",
    "adjust_bars",
    "attach_id",
    "prep_dividends",
    "prep_splits",
    "day_edges",
    "guess_split_ratio",
    "infer_gap_ratios",
    "merge_declared_with_inferred",
    "adjust_minute_bars",
    "dividend_factors_from_days",
    "effective_day_factors",
    "split_factors_from_days",
]
