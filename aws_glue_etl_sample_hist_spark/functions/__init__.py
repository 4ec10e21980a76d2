from .datetime_fns import (  # noqa: F401
    change_day_of_week,
    day_name,
    presto_day_of_week,
    with_date_parts,
    ymd,
)
