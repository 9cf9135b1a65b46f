from nabatshy_spark.functions import timeutil  # noqa: F401
