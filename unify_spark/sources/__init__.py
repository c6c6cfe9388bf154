from unify_spark.sources.readers import (  # noqa: F401
    read_csv_with_lineage,
    read_parquet,
    read_table,
    normalize_na,
    check_required_columns,
)
