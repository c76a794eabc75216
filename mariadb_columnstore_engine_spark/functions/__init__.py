from mariadb_columnstore_engine_spark.functions.dialect import (
    group_concat,
    json_arrayagg,
    ifnull,
    if_,
)

__all__ = ["group_concat", "json_arrayagg", "ifnull", "if_"]
