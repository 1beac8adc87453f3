"""Query/oracle registry package: one module per operator family.

Each family module declares ``QUERIES = {name: (query_fn, oracle_sql)}``:
``query_fn(spark, sf_dir)`` builds the engine DataFrame and ``oracle_sql``
is the DuckDB SQL it must match exactly. Names that share an oracle (the
as-of strategies, ``ann_auto_topk``, ``dedup_clusters_star``) repeat it.
The order of the names lives in ``__spark_entry__.ORDER``: the
correctness gate hashes the first 50, so order is part of the contract."""
