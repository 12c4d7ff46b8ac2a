from clp_spark.route.fanout import add_sink_id, route_to_sinks
from clp_spark.route.gc import expire_segments
