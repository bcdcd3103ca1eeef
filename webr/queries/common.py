"""Shared helpers for the driver-contract queries: identical tokenization /
stopword semantics rendered for BOTH Spark SQL and DuckDB SQL, so the
oracle comparison exercises real parity, not luck."""

from __future__ import annotations

from webr.textproc import STOPWORDS

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# --- Spark SQL fragments ----------------------------------------------------

def spark_tokens(col: str = "text") -> str:
    """Spark SQL expression: lowercase, split on non-alnum, drop empties."""
    return f"filter(split(lower({col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


def spark_tokens_nostop(col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return (f"filter({spark_tokens(col)}, "
            f"x -> NOT array_contains(array({stop}), x))")


# --- DuckDB SQL fragments -----------------------------------------------------

def duck_tokens(col: str = "text") -> str:
    return (f"list_filter(regexp_split_to_array(lower({col}), "
            f"'{TOKEN_SPLIT_RE}'), x -> x <> '')")


def duck_tokens_nostop(col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return (f"list_filter({duck_tokens(col)}, "
            f"x -> NOT list_contains([{stop}], x))")


def read(spark, sf_dir: str, table: str):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# documents row count per sf dir. The testdata tables are immutable, so
# one count job per (app, dir) suffices — otherwise every query that
# needs N pays a count job before its real work. At 100 TB this is
# table-stat metadata (a parquet-footer read), not a scan.
_NDOCS_CACHE: dict[tuple[str, str], int] = {}


def doc_count(spark, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _NDOCS_CACHE:
        _NDOCS_CACHE[key] = read(spark, sf_dir, "documents").count()
    return _NDOCS_CACHE[key]
