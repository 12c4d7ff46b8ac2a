from clp_spark.route.fanout import (
    add_sink_id,
    route_to_sinks,
    sink_metrics,
)
from clp_spark.route.gc import expire_segments
