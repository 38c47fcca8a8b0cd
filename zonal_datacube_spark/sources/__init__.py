from zonal_datacube_spark import worker_daemon
from zonal_datacube_spark.sources.loader import TABLES, load_table, load_tables, register_views

# Spark's planner runners fork from pyspark.daemon whatever
# spark.python.daemon.module says; such a worker imports this package when
# it unpickles a data source class, so the zip stat gate goes in here.
worker_daemon.install()

__all__ = ["TABLES", "load_table", "load_tables", "register_views"]
