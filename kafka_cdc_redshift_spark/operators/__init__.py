from .dedup import lww_dedup, latest_deletes  # noqa: F401
from .merge import merge_changes  # noqa: F401
from .normalize import (  # noqa: F401
    explode_canal,
    route_parse,
    route_parse_debezium,
    route_parse_dms,
    route_parse_canal,
    route_parse_mongo,
)
