from etl_instagram_spark.plans.oracle import all_oracle_sql, rotated_queries
from etl_instagram_spark.plans.queries import all_queries

# imported once so every @query / oracle registration fires; this order
# fixes the gate's iteration order
from etl_instagram_spark.plans import (  # noqa: E402,F401
    q_shared,
    q_docs,
    q_emb,
    q_relational,
    q_docs_pipeline,
    q_graph,
    q_events,
    extras_relational,
    extras_docs,
    extras_emb,
    extras_events,
    extras_graph,
)

__all__ = ["all_oracle_sql", "all_queries", "rotated_queries"]
