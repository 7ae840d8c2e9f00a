"""Persisted corpus-stats provider for the registered queries.

operators/corpusstats.py proves (tests/test_corpusstats.py) that BM25, the
quality percentile filter, and both mixture planners are bit-identical with
a precomputed CorpusStats — and that the precomputed path retires their
scalar corpus scans. This module makes the REGISTERED queries actually run
that path: the stats table is persisted once per corpus state (the
``write_corpus_stats`` ingest-time step, done lazily here because the
driver fixture ships no stats sidecar and its directory is read-only), and
every later query build reads a few-KB parquet instead of scanning the
corpus.

Staleness safety: the cache key is a fingerprint of the documents
table's file listing (name, size, mtime) — an out-of-band rewrite of the
corpus changes the fingerprint, so
a query can never consume stats for data it isn't reading; the stale entry
is simply recomputed under the new key (self-healing, no invalidation
protocol).

At 100 TB the equivalent is the stats table maintained next to the corpus
by the ingest pipeline (ledger batches fold in via merged_corpus_stats);
this module is the local-fixture stand-in with the same read-side
contract: compute-fallback, never a silent wrong answer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from ..operators import corpusstats
from ..sources.tables import _load_table_uncached

CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_STATS_CACHE", os.path.join("/tmp", "hps_corpus_stats")
)

# fingerprint -> CorpusStats; plain immutable data, safe across sessions
_MEM: dict[str, corpusstats.CorpusStats] = {}


def corpus_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """dir_fingerprint of the table's directory (or single file)."""
    return dir_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


def dir_fingerprint(d: str) -> str:
    """md5 over a RECURSIVE (file, size, mtime) listing + absolute path —
    any out-of-band write moves the key, so stale cached state keyed on it
    is unreachable. Recursion matters for partitionBy layouts: rewriting
    lang=en/part-0.parquet in place changes that file's mtime but not the
    top-level directory's, so a shallow listdir would miss it."""
    h = hashlib.md5()
    h.update(os.path.abspath(d).encode())
    if os.path.isdir(d):
        for root, dirs, files in sorted(os.walk(d)):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(root, name)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, d)}|{st.st_size}|{st.st_mtime_ns}".encode()
                )
    elif os.path.exists(d):
        st = os.stat(d)
        h.update(f"{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


def stats_path(sf_dir: str, table: str = "documents") -> str:
    return os.path.join(CACHE_ROOT, corpus_fingerprint(sf_dir, table))


def fixture_corpus_stats(
    spark: SparkSession, sf_dir: str, table: str = "documents"
) -> corpusstats.CorpusStats:
    """The corpus's CorpusStats: in-process cache → persisted parquet →
    compute-and-persist fallback (one corpus scan, exactly once per corpus
    state across all queries/processes that share the cache dir)."""
    fp = corpus_fingerprint(sf_dir, table)
    cached = _MEM.get(fp)
    if cached is not None:
        return cached
    path = os.path.join(CACHE_ROOT, fp)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # deliberately BYPASS load_table's session-level DataFrame cache:
        # a cached frame snapshots its file listing, so after an
        # out-of-band corpus rewrite the fallback would read the OLD
        # files and persist wrong stats under the NEW fingerprint —
        # permanently poisoning the shared cache dir
        docs = _load_table_uncached(spark, sf_dir, table)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        corpusstats.write_corpus_stats(corpusstats.corpus_stats_table(docs), tmp)
        try:
            os.rename(tmp, path)  # atomic publish; a concurrent winner is fine
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    stats = corpusstats.read_corpus_stats(spark, path)
    _MEM[fp] = stats
    return stats
