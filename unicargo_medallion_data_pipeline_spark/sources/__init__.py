from unicargo_medallion_data_pipeline_spark.sources.readers import load_table  # noqa: F401
