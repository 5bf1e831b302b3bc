"""The benchmark's inputs and reference results.

    python3 perfbench/inputs.py corpus <seed>   # synthetic web of crawl_durable
    python3 perfbench/inputs.py oracle          # DuckDB results of the headline queries

The query tables are committed under ``perfbench/data/sf0.01/``: the tables
the ten headline queries read, copied unchanged from the project's sf0.01
test data. The crawl corpus (one per seed) and the queries' DuckDB oracle
results are made once into ``.perfbench/data/``. ``run.py`` calls
``ensure_*``, which makes a missing one in a child process, so the
measured process never holds the generator's or DuckDB's memory, whether
or not the input was already there.
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench", "data")
QUERY_SF = 0.01
QUERY_DATA = os.path.join(HERE, "data", f"sf{QUERY_SF}")
ORACLE = os.path.join(DATA, f"oracle-sf{QUERY_SF}")
HEADLINE = [
    "flagship_q1", "revenue_by_nation", "topk_per_group", "sessionize", "text_search",
    "lsh_candidate_pairs", "ngram_jaccard_pairs", "embedding_topk", "token_stats",
    "recent_activity",
]


def corpus_spec(seed: int):
    from distributed_web_scrapper_and_crawler_spark.config import CorpusSpec

    return CorpusSpec(seed=seed, n_hosts=16, docs_per_host=250, links_per_doc=8)


def corpus_path(seed: int) -> str:
    return os.path.join(DATA, f"corpus-seed{seed}.parquet")


def oracle_path(query: str) -> str:
    return os.path.join(ORACLE, f"{query}.parquet")


def _ensure(done: str, *args) -> None:
    if not os.path.exists(done):
        subprocess.run([sys.executable, os.path.abspath(__file__), *map(str, args)], check=True)


def ensure_corpus(seed: int) -> str:
    _ensure(corpus_path(seed), "corpus", seed)
    return corpus_path(seed)


def ensure_oracle() -> None:
    _ensure(os.path.join(ORACLE, "_DONE"), "oracle")


def _make_corpus(seed: int) -> None:
    from distributed_web_scrapper_and_crawler_spark.sources.corpus import (
        generate_corpus,
        write_corpus_parquet,
    )

    path = corpus_path(seed)
    os.makedirs(DATA, exist_ok=True)
    write_corpus_parquet(generate_corpus(corpus_spec(seed)), path + ".tmp")
    os.replace(path + ".tmp", path)


def _make_oracle() -> None:
    import duckdb

    from distributed_web_scrapper_and_crawler_spark.analytics import QUERY_REGISTRY

    os.makedirs(ORACLE, exist_ok=True)
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(QUERY_DATA)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(QUERY_DATA, f)}'")
        for q in HEADLINE:
            con.execute(QUERY_REGISTRY[q].sql).fetchdf().to_parquet(oracle_path(q))
    finally:
        con.close()
    open(os.path.join(ORACLE, "_DONE"), "w").close()


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    if sys.argv[1:2] == ["corpus"] and len(sys.argv) == 3:
        _make_corpus(int(sys.argv[2]))
    elif sys.argv[1:] == ["oracle"]:
        _make_oracle()
    else:
        sys.exit(__doc__)
