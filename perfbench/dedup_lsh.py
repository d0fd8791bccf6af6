"""dedup_lsh: ``queries.similarity.minhash128_lsh_pairs`` on generated text.

The generator is fitted to the sf0.1 ``documents`` table that
``bench.py`` runs on (5,000 documents), measured token by token:

* vocabulary: 30 words, drawn uniformly (their counts in sf0.1 give
  chi^2 = 30.4 on 29 degrees of freedom against a uniform draw);
* length: uniform on 10..99 tokens (chi^2 = 109 on 89 dof);
* near-duplicates: 5% of the documents (250 of 5,000) are another
  document's text with the token ``dup`` appended.

Every seed draws the same multiset of lengths; the seed orders them,
draws the words and picks the duplicated documents.  Long documents hold
the whole vocabulary, so their token sets coincide and one LSH bucket per
band collects almost half the corpus: the heavy key of a self-join.  On
sf0.1 that bucket holds 2,281 of 5,000 documents (45.6%); this generator
gives 2,266 and 2,272 of 5,000 on seeds 1 and 2 (45.3%, 45.4%) and, at
this workload's 1,000 documents, 441, 440 and 445 on seeds 1-3 (44.0% to
44.5%).  This is the only shuffle- and
skew-bound workload; it bypasses cells, spatial_join, mercator, codecs
and tiles.

The check runs the entry's own DuckDB oracle (``_mh128_oracle``) on the
same ``documents.parquet`` and compares the pair sets.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import Check, Tracer, median, noop

N_DOCS = 1_000
N_FILES = 8
#: fitted to sf0.1's documents (see the module docstring)
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
MIN_TOKENS, MAX_TOKENS = 10, 99
DUP_SHARE = 0.05
DUP_TOKEN = "dup"


class Workload:
    min_reps = 3

    def __init__(self, spark, run):
        self.spark, self.run = spark, run
        self.sf_dir = run.path("in", "sf")
        self.docs_path = os.path.join(self.sf_dir, "documents.parquet")
        self.pairs_path = run.path("work", "pairs.parquet")

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.run.seed)
        n_dup = round(DUP_SHARE * N_DOCS)
        # the same multiset of lengths for every seed, in seed order
        n_tok = rng.permutation(
            np.resize(np.arange(MIN_TOKENS, MAX_TOKENS + 1), N_DOCS - n_dup))
        toks = rng.integers(0, len(WORDS), int(n_tok.sum()))
        words = np.array(WORDS, dtype=object)
        bounds = np.concatenate([[0], np.cumsum(n_tok)])
        text = [" ".join(words[toks[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
        # near-duplicates of documents whose lengths are again a fixed multiset
        for n in rng.permutation(np.resize(np.arange(MIN_TOKENS, MAX_TOKENS), n_dup)):
            src = int(rng.choice(np.flatnonzero(n_tok == n)))
            text.append(f"{text[src]} {DUP_TOKEN}")
        text = [text[i] for i in rng.permutation(N_DOCS)]
        table = pa.table({"doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
                          "text": pa.array(text, pa.string())})
        shutil.rmtree(self.docs_path, ignore_errors=True)
        os.makedirs(self.docs_path)
        step = -(-N_DOCS // N_FILES)
        for f in range(N_FILES):
            pq.write_table(table.slice(f * step, step),
                           os.path.join(self.docs_path, f"part-{f:03d}.parquet"))

    # -- the job ---------------------------------------------------------
    def _pairs(self):
        from gdal_spark.queries.similarity import minhash128_lsh_pairs

        return minhash128_lsh_pairs(self.spark, self.sf_dir)

    def warm(self) -> None:
        """One repetition that writes its pairs for the check, then a
        plain one: the JVM is still compiling the 128-minimum aggregation
        after the first, and timed repetitions on that slope spread widely."""
        self._pairs().write.mode("overwrite").parquet(self.pairs_path)
        self.rep()

    def rep(self) -> dict:
        t0 = time.perf_counter()
        noop(self._pairs())
        return {"job_s": time.perf_counter() - t0}

    def e2e(self, samples: list[dict]) -> dict:
        job = median([s["job_s"] for s in samples])
        # no checkpointed state: recovering from a crash re-runs the job
        return {"rows_per_s": N_DOCS / job, "resume_s": job}

    # -- output check ----------------------------------------------------
    def check(self) -> Check:
        import duckdb

        from gdal_spark.queries.similarity import _mh128_oracle

        out = self.pairs_path
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.docs_path}/*.parquet')")
        con.execute(f"CREATE TABLE want AS {_mh128_oracle()}")
        con.execute(f"CREATE TABLE got AS SELECT doc_a, doc_b FROM "
                    f"read_parquet('{out}/*.parquet')")
        n_got_dups = con.execute(
            "SELECT count(*) - count(DISTINCT (doc_a, doc_b)) FROM got").fetchone()[0]
        union, both = con.execute("""
            WITH g AS (SELECT DISTINCT doc_a, doc_b, 1 AS in_g FROM got),
                 w AS (SELECT DISTINCT doc_a, doc_b, 1 AS in_w FROM want)
            SELECT count(*), count(in_g + in_w)
            FROM g FULL OUTER JOIN w ON g.doc_a = w.doc_a AND g.doc_b = w.doc_b
        """).fetchone()
        con.close()
        chk = Check("union of Spark and DuckDB-oracle pair sets")
        chk.add("pair in both Spark output and oracle", union, union - both)
        chk.add("duplicate Spark output pair", n_got_dups, n_got_dups)
        return chk

    # -- traced run ------------------------------------------------------
    def trace(self, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from gdal_spark.queries import similarity as S

        out: dict[str, float] = {}
        sigs = S.minhash128_signatures(self.spark, self.sf_dir)
        tr.span("similarity", "signatures", lambda: noop(sigs))
        out["similarity.signatures_s"] = tr.s("similarity", "signatures")
        out["similarity.pairs_out"] = tr.span("similarity", "pairs",
                                              self._pairs().count)

        # bucket sizes, rebuilt from the signatures with the entry's own
        # band keys
        keys = [S._mh_band_key(b) for b in range(S.MH_BANDS)]
        sizes = np.array(sorted(tr.span(
            "probe", "buckets",
            lambda: [r["n"] for r in
                     sigs.select(F.posexplode(F.array(*keys)).alias("band", "bkey"))
                     .groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
                     .collect()])), dtype=np.int64)
        out["similarity.bucket_max"] = int(sizes.max()) if sizes.size else 0
        # nearest-rank p99, exact and repeatable
        out["similarity.bucket_p99"] = (
            int(sizes[max(0, int(np.ceil(0.99 * sizes.size)) - 1)]) if sizes.size else 0)
        out["similarity.pairs_emitted"] = int((sizes * (sizes - 1) // 2).sum())
        out["similarity.pair_useful_ratio"] = (
            out["similarity.pairs_out"] / out["similarity.pairs_emitted"]
            if out["similarity.pairs_emitted"] else 0.0)
        return out

    def from_log(self, log, calls, tag: str) -> dict:
        from eventlog import heaviest

        pairs = log.select("similarity", "pairs", tag)
        st = heaviest(pairs)
        return {
            "similarity.task_skew": st.task_skew if st else 0.0,
            "similarity.shuffle_bytes": sum(s.shuffle_write_bytes for s in pairs),
            "similarity.spill_bytes": sum(s.spill_bytes for s in pairs),
        }
