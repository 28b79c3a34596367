"""Regenerate ``oracle_digests.json``: the DuckDB oracle digests of the
query-mix queries that read only the seed-independent documents table.

    python3 pipebench/make_digests.py

Run from the root of a checkout after changing the documents generator
(bump ``inputs.FIXTURE_VERSION``) or one of these queries' oracle SQL.
Takes a few minutes: the personalized-PageRank oracle dominates.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR.parent))

import inputs  # noqa: E402
import oracle  # noqa: E402
from aws_genaric_datapipeline_spark.queries import QUERIES  # noqa: E402

# These read `documents` and nothing else, so their oracle does not depend
# on the run seed.
DOCUMENT_QUERIES = (
    "graph_personalized_pagerank",
    "text_quality_classifier",
    "multimodal_jpeg_phash",
    "tokenizer_unigram_apply",
)


def main() -> int:
    (BENCH_DIR / ".runs").mkdir(exist_ok=True)
    sf_dir = tempfile.mkdtemp(prefix="digests-", dir=BENCH_DIR / ".runs")
    try:
        inputs.write_fixture(sf_dir, seed=0)
        out = {}
        for name in DOCUMENT_QUERIES:
            t0 = time.perf_counter()
            sql = QUERIES[name].oracle
            out[name] = {
                "key": oracle.sql_key(sql, inputs.FIXTURE_VERSION),
                "digest": oracle.duck_digest(sf_dir, sql),
            }
            print(f"{name}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    with open(oracle.DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
