"""The benchmark's workloads, their seeded inputs and their checks.

Each workload runs closed-loop on one client: input set-up, an untimed
warm-up (for ``analytics`` the check pass and one more pass), timed cycles until
the time budget is spent (at least MIN_CYCLES), then the remaining
checks.  Every timed cycle is one ``cycle`` span; its unit operations
(stage commits, queries) are child spans.  Checks run outside the timed
windows and count toward ``failed``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

QUERIES = [
    "pricing_summary", "shipping_priority", "sessionize",
    "bm25_documents", "hybrid_retrieval", "dedup_exact",
    "minhash_signatures", "lsh_pairs", "simhash",
    "cosine_topk", "ann_lsh_topk", "quality_score",
    "spatial_title_join", "spatial_containment", "multimodal_meta",
]

# stage table -> the layer (module) whose output it commits
LAYER_OF_STAGE = {
    "pages": "extract",
    "page_text": "boilerplate_ocr",
    "doc_text": "assemble",
    "chunks": "chunk",
    "typed_chunks": "typed_chunk",
    "chunk_vectors": "embed",
    "metrics": "pipeline_metrics",
}

# The seeded corpus of every ingest cycle.  A run_pipeline cycle costs
# ~8 s whatever the corpus (jobs, commits, catalog) plus ~2.4 ms per doc
# on 4 cores; 300 docs keep a run inside its time budget.
INGEST_DOCS = 300
ANALYTICS_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
ANALYTICS_TABLES = ["documents", "embeddings", "events", "lineitem", "orders", "customer", "part"]
DELTA_DOCS = 20
EDGE_CASE_IDS = 20  # corpus ids below this are fixed edge cases, never re-crawled
CHECKED_STAGES = ("pages", "page_text", "doc_text", "chunks")
REFRESHES = 2  # the second restores the base payloads
SEARCHES = 1  # per traced ingest run
ANN_PROBES = 1  # per traced ingest run
CHECK_THREADS = 3
MIN_CYCLES = 2  # each run's figures are medians over at least this many cycles


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(f"order:{seed}").shuffle(order)
    return order


def delta_plan(seed: int, n_docs: int, refresh: int) -> tuple[list[int], int]:
    """Doc ids re-crawled by refresh number ``refresh`` and the generator
    seed of their payloads.  The ids are one seeded host's docs (fixed per
    seed); payloads alternate between a second seed and the base seed, so
    every other refresh restores the base corpus."""
    from pdf_extraction_spark.sources.corpus import N_HOSTS

    rnd = random.Random(f"delta:{seed}")
    host = rnd.randrange(N_HOSTS)
    pool = [i for i in range(EDGE_CASE_IDS, n_docs) if i % N_HOSTS == host]
    ids = sorted(rnd.sample(pool, min(DELTA_DOCS, len(pool))))
    return ids, (seed + 1 if refresh % 2 == 0 else seed)


def search_terms(seed: int) -> list[str]:
    from pdf_extraction_spark.sources.corpus import WORDS

    rnd = random.Random(f"search:{seed}")
    return [" ".join(rnd.sample(WORDS, 3)) for _ in range(SEARCHES)]


def probe_ranks(seed: int) -> list[float]:
    """ANN probes as rank fractions into the sorted vec_id list."""
    rnd = random.Random(f"probe:{seed}")
    return [rnd.random() for _ in range(ANN_PROBES)]


# ---------------------------------------------------------------------------
# bookkeeping
# ---------------------------------------------------------------------------

@dataclass
class Outcome:
    cycle_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)  # phase -> end, s since start
    t0: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (for the run report)."""
        self.phases[name] = round(time.perf_counter() - self.t0, 2)

    @contextmanager
    def timed_cycle(self):
        """Record the wall time of one timed cycle."""
        t = time.perf_counter()
        yield
        self.cycle_s.append(time.perf_counter() - t)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")


def parquet_rows(path: str) -> int:
    """Row count of a committed stage from the parquet footers (no job)."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def timed_loop(seconds: float, body, min_cycles: int = MIN_CYCLES) -> None:
    """Run ``body(i)`` until ``seconds`` have passed and at least
    ``min_cycles`` ran; the measured time is whatever ``body`` records."""
    t0 = time.perf_counter()
    i = 0
    while i < min_cycles or time.perf_counter() - t0 < seconds:
        body(i)
        i += 1


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def ingest(spark, tracer, work: str, seed: int, seconds: float, out: Outcome,
           refresh: bool = False) -> None:
    """``run_pipeline`` of a seeded corpus (``write_corpus`` files) into a
    fresh stage root per cycle.  One op is one stage commit.  An untimed
    cycle over the same rows warms the JVM first; each cycle's row counts
    must equal its, and the last cycle's doc_text must equal the oracle.
    With ``refresh`` (traced runs) the last root then takes two seeded
    re-crawls, each with a vector build, and searches."""
    from pdf_extraction_spark.oracle import extract_corpus
    from pdf_extraction_spark.plans.pipeline import run_pipeline
    from pdf_extraction_spark.sources.corpus import corpus_df, generate_corpus, write_corpus

    corpus = os.path.join(work, "corpus")

    def cycle(root: str, inp) -> None:
        with tracer.span("cycle"):
            run_pipeline(spark, inp, root, resume=False)

    def oracle():
        rows = generate_corpus(INGEST_DOCS, seed)
        return rows, extract_corpus(rows)

    # Set-up and warm-up overlap (none of it is timed): the corpus files
    # are written and the oracle computed while the warm-up cycle runs
    # over the same rows, generated in memory.
    roots = [os.path.join(work, "stages-warm")]
    with ThreadPoolExecutor(2) as pool:
        written = pool.submit(write_corpus, spark, corpus, INGEST_DOCS, seed)
        pending = pool.submit(oracle)
        cycle(roots[0], corpus_df(spark, INGEST_DOCS, seed))
        written.result()
        rows, expected = pending.result()
    out.phase("warm-up")
    tracer.spans.clear()
    counts = [{s: parquet_rows(os.path.join(roots[0], s)) for s in CHECKED_STAGES}]

    def timed(i: int) -> None:
        roots.append(os.path.join(work, f"stages-{i}"))
        with out.timed_cycle():
            cycle(roots[-1], spark.read.parquet(corpus))
        counts.append({s: parquet_rows(os.path.join(roots[-1], s)) for s in CHECKED_STAGES})
        shutil.rmtree(roots[-2], ignore_errors=True)

    # a traced run times one cycle, so that its refresh section fits
    timed_loop(0 if refresh else seconds, timed, 1 if refresh else MIN_CYCLES)
    out.phase("timed")
    cycle_ids = {s.id for s in tracer.spans if s.name == "cycle"}
    ops = [s for s in tracer.spans if s.parent in cycle_ids]
    out.op_s += [s.wall for s in ops]
    out.attempted += len(ops)

    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(os.path.join(roots[-1], "doc_text")).collect()
    }
    for url, v in expected.items():
        out.check(got.get(url, "") == v["text"], f"doc_text {url} differs from the oracle")
    for i, c in enumerate(counts[1:]):
        out.check(c == counts[0], f"cycle {i} row counts {c} differ from the warm-up {counts[0]}")
    out.phase("checks")
    if refresh:
        refresh_search(spark, tracer, roots[-1], rows, counts[-1], seed, out)
        out.phase("refresh")


# ---------------------------------------------------------------------------
# refresh + search (traced ingest runs)
# ---------------------------------------------------------------------------

def refresh_search(spark, tracer, root: str, base_rows: list[dict],
                   base_counts: dict[str, int], seed: int, out: Outcome) -> None:
    """Re-crawl one host's docs of the pipeline output at ``root``
    REFRESHES times (incremental MERGE + vector build), then run seeded
    hybrid searches and ANN probes over the committed vector tables."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.embed import EMBED_DIM
    from pdf_extraction_spark.operators.retrieval import chunk_hybrid_search
    from pdf_extraction_spark.operators.similarity import ann_lsh_topk
    from pdf_extraction_spark.oracle import extract_corpus, host_of_url
    from pdf_extraction_spark.plans import stage_store
    from pdf_extraction_spark.plans.pipeline import run_incremental, run_vector_build
    from pdf_extraction_spark.sources.corpus import corpus_df, generate_row

    n_docs = len(base_rows)
    rows = list(base_rows)
    for r in range(REFRESHES):
        ids, payload_seed = delta_plan(seed, n_docs, r)
        for i in ids:
            rows[i] = generate_row(i, payload_seed)
        delta = spark.createDataFrame(
            [rows[i] for i in ids], schema=corpus_df(spark, 0).schema
        )
        with tracer.span("refresh"):
            with tracer.span("incremental"):
                run_incremental(spark, delta, root)
            run_vector_build(spark, root)
        out.attempted += 1

        host = host_of_url(rows[ids[0]]["url"])
        expected = extract_corpus([x for x in rows if host_of_url(x["url"]) == host])
        got = {
            x["url"]: x["extracted_text"]
            for x in stage_store.read_stage(spark, root, "doc_text")
            .filter(F.col("url").isin([rows[i]["url"] for i in ids])).collect()
        }
        for i in ids:
            url = rows[i]["url"]
            out.check(got.get(url, "") == expected[url]["text"],
                      f"refresh {r}: doc_text {url} differs from the oracle")
        if payload_seed == seed:
            counts = {s: parquet_rows(os.path.join(root, s)) for s in base_counts}
            out.check(counts == base_counts,
                      f"refresh {r}: row counts {counts} did not return to {base_counts}")

    typed = stage_store.read_stage(spark, root, "typed_chunks")
    for q in search_terms(seed):
        with tracer.span("retrieval.chunk_hybrid"):
            hits = chunk_hybrid_search(typed, q, doc_col="url").collect()
        out.check(0 < len(hits) <= 10, f"search {q!r} returned {len(hits)} rows")
    vectors = stage_store.read_stage(spark, root, "chunk_vectors").select(
        F.xxhash64("url", "page_no", "chunk_id", "source_type").alias("vec_id"),
        "embedding",
    )
    ids_sorted = sorted(x[0] for x in vectors.select("vec_id").collect())
    for frac in probe_ranks(seed):
        probe = ids_sorted[int(frac * (len(ids_sorted) - 1))]
        with tracer.span("similarity.ann_lsh"):
            hits = ann_lsh_topk(vectors, probe_id=probe, k=10, dim=EMBED_DIM).collect()
        out.check(len(hits) > 0, f"ann probe {probe} returned no rows")


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

class Collected:
    """A collected query result with the two members ``compare`` reads."""

    def __init__(self, df):
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


def duckdb_expected(names: list[str], cache_dir: str) -> dict:
    """DuckDB twin results of ``names`` over the analytics tables.  The
    tables are fixed, so the results are cached under ``cache_dir``,
    keyed by the twins' SQL and the DuckDB version."""
    import hashlib
    import json
    import pickle

    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    key = hashlib.sha256(json.dumps(
        [duckdb.__version__] + [[n, oracles[n]] for n in names]
    ).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"duckdb-expected-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ANALYTICS_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ANALYTICS_DATA}/{t}.parquet')"
        )
    try:
        expected = {n: con.execute(oracles[n]).df() for n in names}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(expected, fh)
    os.replace(tmp, path)
    return expected


def analytics(spark, tracer, work: str, seed: int, seconds: float, out: Outcome) -> None:
    """Round-robin passes over the 15 queries in a seeded order on the
    sf0.01 test tables, each written to the noop sink.  One op is one
    query."""
    import __spark_entry__ as entry
    from tools.check_correctness import compare

    data = ANALYTICS_DATA
    queries = entry.queries()
    order = query_order(seed)

    def collect(name: str):
        try:
            return Collected(queries[name](spark, data))
        except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
            return exc

    # the check pass (untimed; it also warms the JVM): queries run on
    # several threads, since a cold query is mostly single-threaded
    # planning and code generation; one thread first loads (or, first in a
    # checkout, computes) the DuckDB rows
    with ThreadPoolExecutor(CHECK_THREADS + 1) as pool:
        pending = pool.submit(duckdb_expected, sorted(order), os.path.dirname(work))
        got = dict(zip(order, pool.map(collect, order)))
        expected = pending.result()
    for name in order:
        if isinstance(got[name], Exception):
            problems = [f"{type(got[name]).__name__}: {got[name]}"]
        else:
            problems = compare(name, got[name], expected[name])
        out.check(not problems, f"{name}: {'; '.join(problems)[:300]}")
    out.phase("check pass")

    def noop(name: str) -> None:
        queries[name](spark, data).write.mode("overwrite").format("noop").save()

    # one more untimed pass, on the same threads: the JIT keeps speeding the
    # passes up for several more, and a concurrent pass costs less wall
    # than a sequential one
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        list(pool.map(noop, order))
    out.phase("warm-up")

    def one_pass(i: int) -> None:
        with out.timed_cycle(), tracer.span("cycle"):
            for name in order:
                with tracer.span(f"query.{name}"):
                    noop(name)

    timed_loop(seconds, one_pass)
    out.phase("timed")
    ops = [s for s in tracer.spans if s.name.startswith("query.")]
    out.op_s += [s.wall for s in ops]
    out.attempted += len(ops)


WORKLOADS = {"ingest": ingest, "analytics": analytics}

