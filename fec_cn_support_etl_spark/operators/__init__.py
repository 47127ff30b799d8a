from .aggregates import conditional_sum_pivot, horizontal_total
from .joins import semi_filter
from .skew import detect_hot_keys, salted_repartition
from .windows import lww_latest, top1_per_group, topk_per_group

__all__ = [
    "conditional_sum_pivot",
    "detect_hot_keys",
    "horizontal_total",
    "lww_latest",
    "salted_repartition",
    "semi_filter",
    "top1_per_group",
    "topk_per_group",
]
