"""The benchmark's workloads. Each one generates its inputs from the seed
and caches them before any timer starts, runs one timed iteration on
demand, checks the program's outputs against an independent oracle
outside the timed region, and — in the traced run only — forces the
per-layer sub-timings that would distort an end-to-end measurement.

Sizes are chosen so that a run (session start, input generation, warm
passes, at least three timed iterations, checks) ends well inside the
per-run time budget on a 4-core machine; README.md records them.
"""

from __future__ import annotations

import math
import random
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F, types as T

from pdf_extract_spark.schemas import SPANS

import probes

GIANT_SHARE = 0.05
TASKS_PER_CORE = 2  # extraction partitions per core, as the session's shuffles


def noop(df: DataFrame) -> None:
    """Materialise every row and column without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def stratified_indices(n: int, seed: int) -> list[int]:
    """``n`` generator document indices of which exactly round(5 %) are
    giant, one giant per equal-width bin of the generator's size draw.
    Giant documents hold about 70 % of all spans, so letting their count
    or sizes float with the seed moved the span count of 1 200 documents
    by ~12 % between seeds; fixing both leaves the seed to pick which documents of each
    size. The draws mirror generator.make_document's first two random
    numbers (giant-ness, then the span-count base in [2, 200])."""
    n_giant = round(n * GIANT_SHARE)
    giant: dict[int, int] = {}  # size bin -> doc index
    regular: list[int] = []
    i = 0
    while len(giant) < n_giant or len(regular) < n - n_giant:
        rng = random.Random((seed << 20) ^ i)
        is_giant = rng.random() < GIANT_SHARE
        size_bin = (rng.randint(2, 200) - 2) * n_giant // 199
        if is_giant:
            giant.setdefault(size_bin, i)
        elif len(regular) < n - n_giant:
            regular.append(i)
        i += 1
    return sorted([*giant.values(), *regular])


def _index_frame(spark, columns: dict[str, list], partitions: int) -> DataFrame:
    """Generator arguments spread over the executors."""
    return spark.createDataFrame(pd.DataFrame(columns)).repartition(partitions)


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


GEN_DOCS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", SPANS, True),
    T.StructField("want", SPANS, True),
])


def generate_docs(spark, idx: list[int], seed: int, partitions: int) -> DataFrame:
    """generator.make_document corpus plus its oracle spans, built on the
    executors (the oracle costs ~7 ms/doc single-process) and cached."""

    def gen(batches):
        from pdf_extract_spark import generator, oracle

        for b in batches:
            docs = [generator.make_document(int(i), seed) for i in b["i"]]
            yield pd.DataFrame({
                "doc_id": [d["doc_id"] for d in docs],
                "spans": [d["spans"] for d in docs],
                "want": [oracle.expected_spans(d) for d in docs],
            })

    return _persist(_index_frame(spark, {"i": idx}, partitions).mapInPandas(gen, GEN_DOCS))


def span_failures(out: DataFrame, want: DataFrame) -> tuple[int, int]:
    """(documents whose output is wrong, missing, duplicated or unexpected;
    documents that came out as parse_error rows), in one job. ``out`` is
    (doc_id, spans[, parse_error]); ``want`` is (doc_id, want[, corrupt]).
    A corrupt input must come out as a parse_error row with NULL spans
    and a healthy one must not."""
    has_err = "parse_error" in out.columns
    errored = F.col("parse_error").isNotNull() if has_err else F.lit(False)
    got = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.first("spans").alias("got"),
        F.first(errored).alias("errored"),
    )
    j = want.withColumn("expected", F.lit(True)).join(got, "doc_id", "full_outer")
    bad = (F.col("n").isNull() | (F.col("n") != 1) | F.col("expected").isNull()
           | ~F.col("got").eqNullSafe(F.col("want")))
    if has_err:
        bad = bad | ~F.col("errored").eqNullSafe(F.col("corrupt"))
    row = j.agg(
        F.count(F.when(bad, 1)).alias("bad"),
        F.count(F.when(F.col("errored"), 1)).alias("errored"),
    ).first()
    return int(row["bad"]), int(row["errored"])


class Context:
    """What every workload of one run shares."""

    def __init__(self, spark, seed: int, cores: int, work: Path, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.partitions = TASKS_PER_CORE * cores
        self.work = work
        self.tracer = tracer
        self.stages = probes.SparkStages(spark)


class Workload:
    """One set of inputs and the operations run over them."""

    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """One untimed pass whose output is checked."""
        raise NotImplementedError

    def iteration(self) -> int:
        """One timed pass; returns the input documents it processed. Only
        the timed workloads (WORKLOADS) have one."""
        raise NotImplementedError

    def check(self) -> None:
        """Checks of outputs the timed passes kept (after the timer)."""

    def layers(self) -> dict[str, float]:
        """Forced per-layer sub-timings, run in the traced run only."""
        return {}

    def close(self) -> None:
        """Release cached inputs before the session stops."""


def pipeline_layers(ctx: Context, docs: DataFrame) -> tuple[dict[str, float], float]:
    """Range shuffle alone, then the full extraction job, each once;
    returns the layer metrics and the extraction job's wall time."""
    from pdf_extract_spark.pipeline import partition_for_extraction, run_extraction

    tr = ctx.tracer
    cur = ctx.stages.mark()
    with tr.span("pipeline.partition_for_extraction"):
        shuffle_s = timed(lambda: noop(partition_for_extraction(docs, ctx.partitions)))
    shuffle_mb = sum(s["shuffle_write_b"] for s in ctx.stages.since(cur)) / 2**20
    cur = ctx.stages.mark()
    with tr.span("pipeline.run_extraction"):
        extract_s = timed(lambda: noop(run_extraction(docs, ctx.partitions)))
    stage = probes.heaviest(ctx.stages.since(cur))
    return {
        "pipeline.shuffle_s": shuffle_s,
        "pipeline.shuffle_write_mb": shuffle_mb,
        "pipeline.task_skew": probes.skew(ctx.stages, stage),
        "extract.stage_s": stage["wall_s"] if stage else 0.0,
    }, extract_s


# --------------------------------------------------------------- spans


class Spans(Workload):
    """Generator corpus through pipeline.run_extraction into the noop sink."""

    name = "spans"
    DOCS = 1200

    def prepare(self) -> None:
        c = self.ctx
        self.gen = generate_docs(c.spark, stratified_indices(self.DOCS, c.seed),
                                 c.seed, c.partitions)
        self.docs = self.gen.select("doc_id", "spans")
        self.n = self.DOCS

    def warmup(self) -> None:
        from pdf_extract_spark.pipeline import run_extraction

        out = run_extraction(self.docs, self.ctx.partitions)
        self.failed += span_failures(out, self.gen.select("doc_id", "want"))[0]
        self.attempted += self.n

    def iteration(self) -> int:
        from pdf_extract_spark.pipeline import run_extraction

        tr = self.ctx.tracer
        with tr.span("pipeline.run_extraction"):
            out = run_extraction(self.docs, self.ctx.partitions)
        with tr.span("sink.noop"):
            noop(out)
        return self.n

    def layers(self) -> dict[str, float]:
        return pipeline_layers(self.ctx, self.docs)[0]

    def close(self) -> None:
        self.gen.unpersist()


# --------------------------------------------------------------- bytes

PDF_VARIANTS = ("classic", "incremental", "objstm")
CORRUPT_SHARE = 0.02

GEN_PAGES = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("want", SPANS, True),
    T.StructField("corrupt", T.BooleanType(), False),
])


def _corrupt(payload: bytes, how: str) -> bytes:
    """Planted bad payloads. The parsers quarantine ``truncated``,
    ``garbage`` (PDF) and ``deep`` (HTML); the validation gates reject
    ``nomagic`` (PDF) and ``nomarkup`` (HTML)."""
    if how == "truncated":
        return payload[: len(payload) // 3]
    if how == "garbage":
        return b"%PDF-1.4\nnot a pdf at all " + payload[-64:]
    if how == "nomagic":
        return b"PK\x03\x04" + payload[8:]
    if how == "deep":
        return b"<html><body>" + b"<div>" * 5000 + b"x"
    if how == "nomarkup":
        return b"plain words without any markup at all " * 40
    raise ValueError(how)


def generate_pages(spark, fmt: str, idx: list[int], bad: dict[int, str],
                   seed: int, partitions: int) -> DataFrame:
    """pdfgen PDFs or htmlgen pages with their oracle spans, built on the
    executors and cached; ``bad`` maps an index to its corruption."""

    def gen(batches):
        from pdf_extract_spark import generator, oracle
        from pdf_extract_spark.sources import htmlgen, pdfgen

        for b in batches:
            rows = []
            for i, how in zip(b["i"], b["bad"]):
                d = int(i)
                if fmt == "pdf":
                    payload = pdfgen.build_pdf(d, seed, variant=PDF_VARIANTS[d % 3])
                    want = oracle.expected_spans_from_layout(pdfgen.expected_pages(d, seed))
                else:
                    payload = htmlgen.build_html(d, seed, variant=htmlgen.VARIANTS[d % 3])
                    want = oracle.expected_spans(generator.make_document(d, seed))
                if how:
                    payload, want = _corrupt(payload, how), None
                rows.append((f"{fmt}{d:08d}", payload, want, bool(how)))
            yield pd.DataFrame(rows, columns=["doc_id", "content", "want", "corrupt"])

    frame = _index_frame(spark, {"i": idx, "bad": [bad.get(i, "") for i in idx]},
                         partitions)
    return _persist(frame.mapInPandas(gen, GEN_PAGES))


def size_stratified_pdfs(n: int, seed: int) -> list[int]:
    """``n`` pdfgen indices spread evenly over the file sizes of 3n
    candidates, so the parse work of a set varies little with the seed
    (pdfgen writes a file in well under a millisecond)."""
    from pdf_extract_spark.sources import pdfgen

    size = {d: len(pdfgen.build_pdf(d, seed, variant=PDF_VARIANTS[d % 3]))
            for d in range(3 * n)}
    return sorted(sorted(size, key=lambda d: (size[d], d))[1::3])


def plant(idx: list[int], kinds: tuple[str, ...], seed: int) -> dict[int, str]:
    """Map round(2 %) of ``idx`` (at least one of each kind) to a corruption."""
    k = max(len(kinds), round(len(idx) * CORRUPT_SHARE))
    picks = random.Random(seed * 7919 + len(kinds)).sample(idx, k)
    return {i: kinds[n % len(kinds)] for n, i in enumerate(sorted(picks))}


class Bytes(Workload):
    """pdfgen PDFs and htmlgen pages through the two byte parsers."""

    name = "bytes"
    PDFS = 160
    PAGES = 160

    def prepare(self) -> None:
        c = self.ctx
        pdf_idx = size_stratified_pdfs(self.PDFS, c.seed)
        html_idx = stratified_indices(self.PAGES, c.seed)
        pdf_bad = plant(pdf_idx, ("truncated", "garbage", "nomagic"), c.seed)
        html_bad = plant(html_idx, ("deep", "nomarkup"), c.seed)
        self.planted = len(pdf_bad) + len(html_bad)
        self.pdf = generate_pages(c.spark, "pdf", pdf_idx, pdf_bad, c.seed, c.partitions)
        self.html = generate_pages(c.spark, "htm", html_idx, html_bad, c.seed, c.partitions)
        self.n = self.PDFS + self.PAGES
        self.quarantined = 0

    def _outputs(self):
        from pdf_extract_spark.operators import html as H, layout as L

        tr, p = self.ctx.tracer, self.ctx.partitions
        with tr.span("layout.pdf_to_spans_full"):
            pdf = L.pdf_to_spans_full(self.pdf.select("doc_id", "content"), p)
        with tr.span("html.html_to_spans_full"):
            html = H.html_to_spans_full(self.html.select("doc_id", "content"), p)
        return pdf, html

    def warmup(self) -> None:
        for out, src in zip(self._outputs(), (self.pdf, self.html)):
            failed, errored = span_failures(out, src.select("doc_id", "want", "corrupt"))
            self.failed += failed
            self.quarantined += errored
        self.attempted += self.n

    def iteration(self) -> int:
        pdf, html = self._outputs()
        with self.ctx.tracer.span("sink.noop"):
            noop(pdf)
            noop(html)
        return self.n

    def layers(self) -> dict[str, float]:
        from pdf_extract_spark.operators import layout as L
        from pdf_extract_spark.pipeline import partition_for_extraction

        c = self.ctx
        pdf, html = self._outputs()
        cur = c.stages.mark()
        noop(pdf)
        pdf_stage = probes.heaviest(c.stages.since(cur))
        cur = c.stages.mark()
        noop(html)
        html_stage = probes.heaviest(c.stages.since(cur))
        valid = self.pdf.select("doc_id", "content").filter(L.pdf_gate())
        cur = c.stages.mark()
        with c.tracer.span("pipeline.partition_for_extraction"):
            shuffle_s = timed(lambda: noop(partition_for_extraction(valid, c.partitions)))
        return {
            "layout.parse_stage_s": pdf_stage["wall_s"],
            "html.stage_s": html_stage["wall_s"],
            "bytes.quarantined": float(self.quarantined),
            "bytes.planted": float(self.planted),
            "pipeline.task_skew": probes.skew(c.stages, pdf_stage),
            "pipeline.shuffle_s": shuffle_s,
            "pipeline.shuffle_write_mb":
                sum(s["shuffle_write_b"] for s in c.stages.since(cur)) / 2**20,
        }

    def close(self) -> None:
        self.pdf.unpersist()
        self.html.unpersist()


# ------------------------------------------------------------- lineage


class Lineage(Workload):
    """The spans corpus as parquet, extracted into a fresh lake with a
    planted in-process kill at half the bucket groups, resumed, counted."""

    name = "lineage"
    DOCS = 400
    BUCKETS = 4
    GROUP = 2

    def prepare(self) -> None:
        c = self.ctx
        self.gen = generate_docs(c.spark, stratified_indices(self.DOCS, c.seed),
                                 c.seed, c.partitions)
        path = str(c.work / "lineage_input")
        self.gen.select("doc_id", "spans").write.parquet(path)
        self.docs = c.spark.read.parquet(path)
        self.want = self.gen.select("doc_id", "want")
        self.want_spans = self.want.agg(F.sum(F.size("want"))).first()[0]
        self.n = self.DOCS

    def warmup(self) -> None:
        """Killed leg, resumed leg and count, on one fresh lake."""
        from pdf_extract_spark import lineage as LN

        c, tr = self.ctx, self.ctx.tracer
        self.lake_dir = c.work / "lake"
        self.lake = LN.Lake(c.spark, str(self.lake_dir))
        kw = dict(n_buckets=self.BUCKETS, group_size=self.GROUP,
                  num_partitions=c.partitions)
        t0 = time.perf_counter()
        self.killed = False
        try:
            with tr.span("lineage.run_extraction_with_lineage"):
                LN.run_extraction_with_lineage(
                    self.lake, self.docs, "killed",
                    fail_after_groups=math.ceil(self.BUCKETS / self.GROUP) // 2, **kw)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
            self.killed = True
        t1 = time.perf_counter()
        with tr.span("lineage.resume"):
            report = LN.run_extraction_with_lineage(self.lake, self.docs, "resumed", **kw)
        t2 = time.perf_counter()
        with tr.span("lineage.count_summary"):
            self.summary = LN.count_summary(self.lake)
        t3 = time.perf_counter()
        self.wall_s, self.resume_s, self.count_s = t3 - t0, t2 - t1, t3 - t2
        self.skipped = len(report.buckets_skipped)

    def check(self) -> None:
        failed = span_failures(
            self.lake.read_spans_out().select("doc_id", "spans"), self.want)[0]
        s = self.summary
        totals_ok = (s["docs"] == self.n and s["spans"] == self.want_spans
                     and s["buckets"] == {"completed": self.BUCKETS})
        if not (self.killed and totals_ok):
            failed = self.n
        lin = self.lake.read_lineage().filter(F.col("status") == "completed").collect()
        first = {r["bucket"] for r in lin if r["run_id"] == "killed"}
        # committed documents the resume extracted a second time
        self.redo_docs = sum(r["doc_count"] for r in lin
                             if r["run_id"] == "resumed" and r["bucket"] in first)
        self.failed += failed + self.redo_docs
        self.attempted += self.n
        groups = self.ctx.spark.read.parquet(self.lake.metrics).collect()
        self.group_s = statistics.median(r["processing_time_s"] for r in groups)
        files = [p for p in self.lake_dir.rglob("*") if p.is_file()]
        self.files = len(files)
        self.bytes_mb = sum(p.stat().st_size for p in files) / 2**20
        shutil.rmtree(self.lake_dir, ignore_errors=True)

    def layers(self) -> dict[str, float]:
        out, extract_s = pipeline_layers(self.ctx, self.docs)
        out.update({
            "lineage.group_s": self.group_s,
            # 1 - lineage docs/s over plain-extraction docs/s, same docs
            "lineage.overhead_frac": 1.0 - extract_s / self.wall_s,
            "lineage.redo_docs": float(self.redo_docs),
            "lineage.skipped_buckets": float(self.skipped),
            "lineage.files_written": float(self.files),
            "lineage.bytes_written_mb": self.bytes_mb,
            "lineage.count_s": self.count_s,
            "lineage.resume_s": self.resume_s,
        })
        return out

    def close(self) -> None:
        self.gen.unpersist()


# -------------------------------------------------------------- curate

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream data "
    "merge join vector customer"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """A documents table shaped like the repository's sf fixtures
    (doc_id, text, lang, source, n_chars): word-salad texts of 8-100
    words, a tenth of them near-copies of an earlier document with one
    word changed, so MinHash dedup has clusters to resolve."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 100))]
        texts.append(" ".join(words))
    langs = rng.choices([l for l, _ in LANGS], weights=[w for _, w in LANGS], k=n)
    return pd.DataFrame({
        "doc_id": pd.Series(range(n), dtype="int64"),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
    })


def _cell(v):
    """Order-insensitive value canon shared by both engines' rows."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def canon_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def _canon_result(res) -> tuple[list[str], list[tuple]]:
    """A DuckDB result as (sorted column names, canonical rows)."""
    cols = [d[0] for d in res.description]
    return sorted(cols), canon_rows(cols, res.fetchall())


def components_oracle(ids: list[int], pairs: list[tuple[int, int]]) -> list[tuple]:
    """(doc_id, component, is_keeper) by union-find: the component is the
    least doc_id reachable through the pair graph, its keeper that doc."""
    parent = {i: i for i in ids}

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((i, root(i), root(i) == i) for i in ids)


class Curate(Workload):
    """The curate chain's stages (curation.clean_corpus, MinHash pairs,
    components, packing) over the curate_corpus_full fixture decoration of
    a generated documents table. Each stage is checked value-exact against
    its DuckDB twin, components against a union-find over the twin's
    pairs: the composed curate_corpus_full oracle takes ~100 s in DuckDB
    on 500 documents, longer than a run may last."""

    name = "curate"
    DOCS = 1000

    def prepare(self) -> None:
        import duckdb

        from pdf_extract_spark.operators import dedup, packing
        from pdf_extract_spark.queries import CURATE_MAX_BUCKET, _curate_full_corpus_sql

        path = self.ctx.work / "documents.parquet"
        make_documents(self.DOCS, self.ctx.seed).to_parquet(path, index=False)
        self.path = str(path)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            con.execute(f"CREATE TABLE cleaned AS {_curate_full_corpus_sql()}")
            self.want = {
                "clean": _canon_result(con.execute("SELECT * FROM cleaned")),
                "pairs": _canon_result(con.execute(dedup.minhash_lsh_pairs_sql(
                    table="cleaned", max_bucket=CURATE_MAX_BUCKET))),
                "pack": _canon_result(con.execute(
                    packing.pack_documents_sql(table="cleaned"))),
            }
        finally:
            con.close()
        # canonical rows hold their columns in sorted-name order
        clean_cols, clean_rows = self.want["clean"]
        ids = [r[clean_cols.index("doc_id")] for r in clean_rows]
        cols, rows = self.want["pairs"]
        a, b = cols.index("id_a"), cols.index("id_b")
        self.want["components"] = (
            ["component", "doc_id", "is_keeper"],
            canon_rows(["doc_id", "component", "is_keeper"],
                       components_oracle(ids, [(r[a], r[b]) for r in rows])),
        )

    def _corpus(self) -> DataFrame:
        """The curate_corpus_full corpus slice before cleaning."""
        from pdf_extract_spark import queries

        raw = self.ctx.spark.read.parquet(self.path)
        return queries._full_decorated(raw).filter(F.col("doc_id") % 50 != 0)

    def _stages(self) -> dict[str, DataFrame]:
        from pdf_extract_spark import curation, queries
        from pdf_extract_spark.operators import dedup, packing

        clean = curation.clean_corpus(self._corpus(), materialize=False)
        pairs = dedup.minhash_lsh_pairs(clean, max_bucket=queries.CURATE_MAX_BUCKET)
        return {"clean": clean, "pairs": pairs,
                "components": dedup.dedup_components(
                    pairs.select("id_a", "id_b"), universe=clean),
                "pack": packing.pack_documents(clean)}

    def warmup(self) -> None:
        for name, df in self._stages().items():
            cols, want = self.want[name]
            got = canon_rows(df.columns, df.collect())
            if sorted(df.columns) != cols:
                bad = len(want) or 1
            else:
                diff = Counter(got)
                diff.subtract(Counter(want))
                bad = sum(abs(v) for v in diff.values())
            self.failed += bad
            self.attempted += max(len(want), 1)

    def layers(self) -> dict[str, float]:
        from pdf_extract_spark import curation, queries
        from pdf_extract_spark.operators import dedup, packing

        tr = self.ctx.tracer
        corpus_raw = self._corpus()
        with tr.span("curation.clean_corpus"):
            clean_s = timed(lambda: noop(curation.clean_corpus(corpus_raw, materialize=False)))
        base = curation.clean_corpus(corpus_raw, materialize=False).localCheckpoint()
        with tr.span("dedup.minhash_lsh_pairs"):
            t0 = time.perf_counter()
            pairs = dedup.minhash_lsh_pairs(
                base, max_bucket=queries.CURATE_MAX_BUCKET
            ).select("id_a", "id_b").localCheckpoint()
            minhash_s = time.perf_counter() - t0
        with tr.span("dedup.dedup_components"):
            comps_s = timed(lambda: noop(dedup.dedup_components(pairs, universe=base)))
        with tr.span("packing.pack_documents"):
            pack_s = timed(lambda: noop(packing.pack_documents(base)))
        return {
            "curation.clean_s": clean_s,
            "dedup.minhash_pairs_s": minhash_s,
            "dedup.candidate_pairs": float(pairs.count()),
            "dedup.components_s": comps_s,
            "packing.pack_s": pack_s,
        }


# The timed workloads. Lineage and curate cost too much fixed time per
# run for the benchmark's time budget; they run in the traced run's layer
# sweep instead, which measures every layer whichever workload is traced.
WORKLOADS = {w.name: w for w in (Spans, Bytes)}
LAYER_SWEEP = (Spans, Bytes, Lineage, Curate)


def sweep(cls: type[Workload], ctx: Context) -> tuple[Workload, dict[str, float]]:
    """Prepare, warm (checked), check and time the layers of one workload."""
    wl = cls(ctx)
    with ctx.tracer.span(f"sweep.{cls.name}"):
        wl.prepare()
        wl.warmup()
        wl.check()
        out = wl.layers()
        wl.close()
    return wl, out
