from random_forest_using_hadoop_spark.sources.io import (
    TABLES,
    docs_spread_width,
    load_table,
)

__all__ = ["load_table", "docs_spread_width", "TABLES"]
