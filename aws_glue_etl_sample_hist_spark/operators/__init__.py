from .aggregates import grouped_sales_agg  # noqa: F401
from .joins import left_join_drop_keys  # noqa: F401
