from semantic_index_spark.plans import explain

__all__ = ["explain"]
