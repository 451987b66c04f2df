from hivetomysql_spark.sinks.jdbc import build_delete_statement, write_jdbc  # noqa: F401
from hivetomysql_spark.sinks.files import write_csv, write_parquet  # noqa: F401
from hivetomysql_spark.sinks.pg_copy import write_pg_copy  # noqa: F401
