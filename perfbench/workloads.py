"""The benchmark's workloads, each a closed loop with one client.

``logs``: the reference's three operations over one seeded raw
NDJSON tree. One ``build_index`` of the FIXTURES §3 metric set, then
cycles of one pass over the FIXTURES §1 scan corpus (raw scans through
``load_datasource`` + ``scan``) and a stream of index queries
(``query_index``), each result collected and rendered.

``curate``: the PIPELINE.md recipe, stages 1-8 with stage 4b
(SemDeDup), over seeded ``documents``/``embeddings`` tables, ending in
collects of the packed training set, the SemDeDup pairs and the
leakage report.

Every answer is checked. A wrong answer or an exception counts as a
failed operation and the run goes on (degrade, don't die).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import docs as docgen
import logs as loggen

# ------------------------------------------------------------------ sizes

LOGS_DAYS = 10
LOGS_FILES_PER_DAY = 2
LOGS_RECORDS_PER_FILE = 1000
#: index queries after each raw scan: 42 per cycle, the samples of the
#: latency percentiles
INDEX_QUERIES_PER_SCAN = 3
CURATE_DOCS = 200
CURATE_VECS = 200
PACK_BUDGET = 2048
SEMDEDUP_THRESHOLD = 0.9
#: the recipe stages' registry twins, graded once per package version
#: against their DuckDB oracles
REGISTRY_TWINS = (
    "text_quality",
    "text_repetition_stats",
    "text_unigram_logprob",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "semdedup_prune",
    "text_duplicate_spans",
    "decontam_benchmark_overlap",
    "split_train_test",
    "split_leakage_report",
    "pack_documents",
)


@dataclass
class Outcome:
    """What a workload run reports back to run.py."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    rows_per_s: float = 0.0
    op_ms: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # per-layer figures from spans
    stamp: dict = field(default_factory=dict)   # input rows/bytes

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def _answer(rows) -> dict:
    """Collected scan/query rows → {group-key tuple: count}."""
    return {tuple(r[:-1]): r[-1] for r in rows}


def _cached(path: str, make):
    """Load the JSON at ``path`` or write it from ``make()``."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    obj = make()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
    return obj


def _keyed(answer: dict) -> list:
    return [[list(k), v] for k, v in answer.items()]


def _unkeyed(pairs: list) -> dict:
    return {tuple(k): v for k, v in pairs}


# ------------------------------------------------------------------- logs

@dataclass
class LogsInputs:
    root: str
    manifest: dict
    corpus: dict      # name -> spec
    expected: dict    # canonical spec -> answer
    pool: list        # index query specs, in stream order
    work: str


def _index_pool(seed: int) -> list[dict]:
    """The index query stream's distinct queries: every routable corpus
    query (so index answers are compared with this run's raw scans)
    and as many seeded ones, partition-pruned bounds included."""
    corpus = [s for n, s in loggen.SCAN_CORPUS.items() if n != "latency_lq100"]
    seeded = loggen.index_query_stream(seed, LOGS_DAYS, len(corpus))
    return [x for pair in zip(corpus, seeded) for x in pair]


def prepare_logs(work: str, seed: int) -> LogsInputs:
    """Generate (once per seed) the tree and its tally. Untimed."""
    base = os.path.join(work, "logs", f"seed{seed}")
    root = os.path.join(base, "tree")

    def make_tree():
        shutil.rmtree(root, ignore_errors=True)
        return loggen.generate(
            root, seed, LOGS_DAYS, LOGS_FILES_PER_DAY, LOGS_RECORDS_PER_FILE
        )

    os.makedirs(base, exist_ok=True)
    manifest = _cached(os.path.join(base, "manifest.json"), make_tree)
    pool = _index_pool(seed)
    specs = {loggen.canonical(s): s for s in list(loggen.SCAN_CORPUS.values()) + pool}

    def make_tally():
        records = loggen.read_records(root, manifest["files"])
        answers = loggen.tally_many(records, list(specs.values()))
        return {k: _keyed(a) for k, a in zip(specs, answers)}

    tally = _cached(os.path.join(base, "tally.json"), make_tally)
    return LogsInputs(
        root=root,
        manifest=manifest,
        corpus=dict(loggen.SCAN_CORPUS),
        expected={k: _unkeyed(v) for k, v in tally.items()},
        pool=pool,
        work=work,
    )


def _records_read(inp: LogsInputs, spec: dict) -> int:
    """Records in the files a raw scan of ``spec`` reads (all of them,
    unless the datasource prunes by time)."""
    if spec.get("after") is None:
        return inp.manifest["records"]
    lo = (spec["after"] - loggen.START_EPOCH) // loggen.DAY
    hi = math.ceil((spec["before"] - loggen.START_EPOCH) / loggen.DAY)
    return sum(inp.manifest["records_per_day"][lo:hi])


def _qc(spec: dict):
    from dragnet_spark import QueryConfig

    return QueryConfig.load(
        breakdowns=spec.get("breakdowns"),
        filter=spec.get("filter"),
        time_after=spec.get("after"),
        time_before=spec.get("before"),
        time_field=spec.get("time_field"),
    )


def run_logs(spark, tracer, inp: LogsInputs, seconds: float, observe: bool) -> Outcome:
    from dragnet_spark import DatasourceConfig, Metric, build_index, query_index, render, scan
    from dragnet_spark.datasource import load_datasource, resolve_paths
    from dragnet_spark.index.query import find_metric, load_index_meta

    out = Outcome()
    ds = DatasourceConfig(
        name="logs", path=inp.root, time_format=loggen.TIME_FORMAT, time_field="time"
    )
    metrics = [
        Metric.load(m["name"], m["breakdowns"], m.get("filter"))
        for m in loggen.INDEX_METRICS
    ]
    index_path = os.path.join(inp.work, "index")
    shutil.rmtree(index_path, ignore_errors=True)
    raw_rows, raw_wall = 0, 0.0
    observations: dict | None = {} if observe else None
    raw_answers: dict = {}

    # warm-up, untimed: one raw count scan, so the timed ops do not
    # depend on which of them pays the JIT's first compilations
    try:
        qc = _qc({})
        df, resolver, vcol = load_datasource(spark, ds, qc)
        rows = scan(df, qc, value_col=vcol, resolver=resolver).collect()
        out.check(rows[0][0] == inp.manifest["records"], "warm-up count scan")
    except Exception as e:  # noqa: BLE001
        out.check(False, f"warm-up count scan: {type(e).__name__}: {e}")

    t_start = time.perf_counter()
    # -- build: one pass over the raw tree, every metric materialized
    try:
        with tracer.span("op", "build") as sp:
            with tracer.span("query", "build"):
                qc_all = _qc({})
            with tracer.span("datasource", "build"):
                df, resolver, _ = load_datasource(spark, ds, qc_all, observations)
            with tracer.span("index.build", "build"):
                build_index(
                    spark, df, metrics, index_path, interval="day",
                    time_field="time", resolver=resolver,
                )
        raw_rows += inp.manifest["records"]
        raw_wall += sp.seconds
        meta = load_index_meta(index_path)
        out.check(
            all(os.path.isdir(os.path.join(index_path, m.name)) for m in metrics),
            "build: a metric view is missing",
        )
    except Exception as e:  # noqa: BLE001 - counted, the run goes on
        out.check(False, f"build: {type(e).__name__}: {e}")
        meta = None
    if observations and meta is not None:  # get() waits for a finished action
        lines = observations["json parser"].get["ninputs"]
        recs = observations["adapter"].get["noutputs"]
        out.detail.update({
            "sources.lines_in": lines,
            "sources.records_out": recs,
            "sources.invalid_lines": lines - recs,
        })
        out.check(
            lines == inp.manifest["lines"] and recs == inp.manifest["records"],
            f"build: parser counters {lines}/{recs} != "
            f"{inp.manifest['lines']}/{inp.manifest['records']}",
        )
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(index_path) for f in fs
        if f.endswith(".parquet")
    ]
    out.detail["build.files_written"] = len(files)
    out.detail["build.bytes_written"] = sum(os.path.getsize(f) for f in files)
    out.detail["index.bytes_per_raw_byte"] = (
        out.detail["build.bytes_written"] / inp.manifest["bytes"]
    )

    iq_answers = []  # (spec key, metric, answer), checked after the loop
    k = 0
    while True:
        # one pass over the scan corpus, raw, with index queries
        # interleaved, so both kinds of call sample the whole run
        for name, spec in inp.corpus.items():
            try:
                with tracer.span("op", f"scan:{name}") as sp:
                    with tracer.span("query", name):
                        qc = _qc(spec)
                    with tracer.span("datasource", name):
                        df, resolver, vcol = load_datasource(spark, ds, qc)
                    with tracer.span("scan", f"plan:{name}"):
                        res = scan(
                            df, qc, datasource_filter=ds.filter,
                            value_col=vcol, resolver=resolver,
                        )
                    with tracer.span("scan", f"exec:{name}"):
                        rows = [tuple(r) for r in res.collect()]
                    with tracer.span("output", name):
                        render(rows, qc)
                raw_rows += _records_read(inp, spec)
                raw_wall += sp.seconds
                got = _answer(rows)
                raw_answers.setdefault(loggen.canonical(spec), got)
                out.check(got == inp.expected[loggen.canonical(spec)],
                          f"scan {name}: answer differs from the tally")
                if spec.get("after") is not None:
                    paths = resolve_paths(ds, qc, spark)
                    out.detail["datasource.paths_read"] = len(paths)
                    out.detail["datasource.prune_frac"] = 1 - len(paths) / LOGS_DAYS
            except Exception as e:  # noqa: BLE001
                out.check(False, f"scan {name}: {type(e).__name__}: {e}")
            for _ in range(INDEX_QUERIES_PER_SCAN):
                spec = inp.pool[k % len(inp.pool)]
                k += 1
                try:
                    with tracer.span("op", "iq") as sp:
                        with tracer.span("query", "iq"):
                            qc = _qc(spec)
                        with tracer.span("index.query", "route"):
                            metric, _ = find_metric(
                                qc, [Metric.from_json(m) for m in meta["metrics"]]
                            )
                        with tracer.span("index.query", "plan"):
                            res = query_index(spark, index_path, qc)
                        with tracer.span("index.query", "exec"):
                            rows = [tuple(r) for r in res.collect()]
                        with tracer.span("output", "iq"):
                            render(rows, qc)
                    out.op_ms.append(sp.seconds * 1000)
                    iq_answers.append((loggen.canonical(spec), metric.name, _answer(rows)))
                except Exception as e:  # noqa: BLE001
                    out.check(False, f"index query: {type(e).__name__}: {e}")
        if time.perf_counter() - t_start >= seconds:
            break
    for key, metric_name, got in iq_answers:
        out.check(
            got == inp.expected[key] and got == raw_answers.get(key, got),
            f"index query {key} ({metric_name}): answer differs from the raw scan",
        )

    out.rows_per_s = raw_rows / raw_wall if raw_wall else 0.0
    out.stamp = {
        "input_rows": inp.manifest["records"],
        "input_bytes": inp.manifest["bytes"],
        "input_lines": inp.manifest["lines"],
    }
    scan_exec = [s for s in tracer.spans if s.layer == "scan" and s.name.startswith("exec:")]
    out.detail.update({
        "datasource.resolve_s": tracer.total("datasource"),
        "query.load_s": tracer.total("query"),
        "scan.plan_s": sum(s.seconds for s in tracer.spans
                           if s.layer == "scan" and s.name.startswith("plan:")),
        "scan.exec_s": sum(s.seconds for s in scan_exec),
        "output.render_s": tracer.total("output"),
        "build.exec_s": tracer.total("index.build"),
        "iq.route_s": tracer.total("index.query", "route"),
        "iq.plan_s": tracer.total("index.query", "plan"),
        "iq.exec_s": tracer.total("index.query", "exec"),
        "iq.queries": len(out.op_ms),
    })
    for s in scan_exec:
        key = f"scan.exec_s.{s.name[5:]}"
        out.detail[key] = out.detail.get(key, 0.0) + s.seconds
    return out


# ----------------------------------------------------------------- curate

@dataclass
class CurateInputs:
    tables: str
    counts: dict
    work: str


def prepare_curate(work: str, seed: int) -> CurateInputs:
    tables = os.path.join(work, "curate", f"seed{seed}")
    counts = _cached(
        tables + ".json",
        lambda: {
            "seed": seed,
            **docgen.write_tables(tables, seed, CURATE_DOCS, CURATE_VECS),
        },
    )
    return CurateInputs(tables=tables, counts=counts, work=work)


def _recipe(spark, tracer, tables: str):
    """PIPELINE.md stages 1-8 with 4b; one span per stage call. Returns
    the lazy outputs the final action consumes."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops import dedup, packing, sampling, text
    from dragnet_spark.ops.graph import dedup_cluster_assignments
    from dragnet_spark.ops.kmeans import semdedup_prune_fused
    from dragnet_spark.sources.tables import load_table

    with tracer.span("ops", "1_quality"):
        docs = load_table(spark, tables, "documents")
        docs = docs.withColumns(dict(text.quality_columns("text")))
        docs = docs.filter((F.col("n_tokens") >= 20) & (F.col("punct_ratio") < 0.3))
    with tracer.span("ops", "2_repetition"):
        rep = text.repetition_stats(docs)
        docs = docs.join(rep.filter("repetition_flag = 0").select("doc_id"), "doc_id")
    with tracer.span("ops", "3_unigram_lm"):
        lp = text.unigram_logprob(docs)
        docs = docs.join(lp.filter("mean_logp > -9.5").select("doc_id"), "doc_id")
    with tracer.span("ops", "4_near_dedup"):
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8)
        assign = dedup_cluster_assignments(docs, "doc_id", pairs)
        docs = docs.join(assign.filter("is_canonical").select("doc_id"), "doc_id")
    with tracer.span("ops", "4b_semdedup"):
        emb = load_table(spark, tables, "embeddings")
        sem = semdedup_prune_fused(
            emb, iterations=3, target_rows_per_cluster=250,
            threshold=SEMDEDUP_THRESHOLD,
        )
    with tracer.span("ops", "5_dup_spans"):
        spans = text.duplicate_spans(docs, n=8)
        docs = docs.join(spans.filter("dup_frac < 0.5").select("doc_id"), "doc_id")
    with tracer.span("ops", "6_decontam"):
        hits = text.benchmark_overlap(docs, n=8)
        docs = docs.join(
            hits.filter("contaminated = 1").select("doc_id"), "doc_id", "left_anti"
        )
    with tracer.span("ops", "7_split"):
        split = sampling.hash_split(docs, "doc_id", test_frac=0.01)
        leaks = sampling.cross_split_contamination(split, "text", "doc_id")
    with tracer.span("ops", "8_pack"):
        # packing the split-tagged docs carries each survivor's split
        # into the packed set; membership is a pure function of doc_id
        final = split.withColumn("n_tok", text.token_count("text"))
        packed = packing.pack_sequences(final, "doc_id", "n_tok", budget=PACK_BUDGET)
    return packed, sem, leaks


def _check_curate(out: Outcome, inp: CurateInputs, packed, sem, leaks) -> None:
    """PIPELINE.md's survivor and packing invariants
    (tests/test_pipeline_guide.py) and the SemDeDup pair contract."""
    n0 = inp.counts["documents"]
    ids = [r[0] for r in packed]
    out.check(0 < len(ids) < n0, f"curate: {len(ids)} of {n0} docs survived")
    out.check(len(set(ids)) == len(ids), "curate: a document packed twice")
    out.check({r[3] for r in packed} <= {"train", "test"}, "curate: unknown split")
    fill: dict = {}
    for _id, n_tok, pack_id, _split in packed:
        fill.setdefault(pack_id, []).append(n_tok)
    out.check(
        all(sum(v) <= PACK_BUDGET or len(v) == 1 for v in fill.values()),
        "curate: a pack exceeds the token budget",
    )
    vecs = {r[0]: r[1] for r in docgen.embeddings(inp.counts["seed"], inp.counts["embeddings"])}

    def cos(a, b):
        import numpy as np

        x = np.asarray(vecs[a], dtype=np.float32).astype(np.float64)
        y = np.asarray(vecs[b], dtype=np.float32).astype(np.float64)
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

    out.check(
        len(sem) > 0 and all(
            r["kept_id"] < r["dropped_id"]
            and cos(r["kept_id"], r["dropped_id"]) >= SEMDEDUP_THRESHOLD - 1e-6
            for r in sem
        ),
        "curate: a SemDeDup pair below the threshold or misordered",
    )
    out.check(
        all(r["n_shared"] >= 3 for r in leaks),
        "curate: a leakage pair shares fewer than 3 shingles",
    )


def run_curate(spark, tracer, inp: CurateInputs, seconds: float, observe: bool) -> Outcome:
    out = Outcome()
    t_start = time.perf_counter()
    while True:
        try:
            with tracer.span("op", "curate") as sp:
                packed, sem, leaks = _recipe(spark, tracer, inp.tables)
                with tracer.span("action", "final"):
                    packed_rows = [
                        tuple(r) for r in
                        packed.select("doc_id", "n_tok", "pack_id", "split").collect()
                    ]
                    sem_rows = sem.collect()
                    leak_rows = leaks.collect()
            out.op_ms.append(sp.seconds * 1000)
            out.check(True, "curate pass")
            _check_curate(out, inp, packed_rows, sem_rows, leak_rows)
            out.detail["curate.docs_kept"] = len(packed_rows)
            out.detail["curate.semdedup_pairs"] = len(sem_rows)
        except Exception as e:  # noqa: BLE001
            out.check(False, f"curate pass: {type(e).__name__}: {e}")
        if time.perf_counter() - t_start >= seconds:
            break
    passes = len(out.op_ms)
    wall = sum(out.op_ms) / 1000
    out.rows_per_s = inp.counts["documents"] * passes / wall if wall else 0.0
    out.stamp = {
        "input_rows": inp.counts["documents"] + inp.counts["embeddings"],
        "input_bytes": inp.counts["bytes"],
    }
    for s in tracer.spans:
        if s.layer == "ops":
            key = f"curate.{s.name}.call_s"
            out.detail[key] = out.detail.get(key, 0.0) + s.seconds
    out.detail["curate.final_action_s"] = tracer.total("action", "final")
    return out


# ------------------------------------------------------ registry grading

def _norm_cell(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        return repr(round(v, 9))
    if v is None:
        return "<null>"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _value_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _package_digest() -> str:
    import dragnet_spark

    root = os.path.dirname(dragnet_spark.__file__)
    h = hashlib.sha256()
    for d, _dirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def grade_registry_twins(spark, tracer, work: str) -> list:
    """Grade the recipe stages' registry twins against their DuckDB
    oracles on a fixed-seed corpus, once per package version (the
    result is cached in the work directory). Untimed. Returns
    ``[[name, ok, detail], ...]``."""
    digest = _package_digest()
    base = os.path.join(work, "grades", digest)

    def grade():
        import duckdb

        from dragnet_spark.registry import REGISTRY

        tables = os.path.join(base, "tables")
        docgen.write_tables(tables, 0, CURATE_DOCS, CURATE_VECS)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t)}.parquet')"
                )
            results = []
            for name in REGISTRY_TWINS:
                try:
                    with tracer.span("grade", name):
                        sdf = REGISTRY[name].spark(spark, tables)
                        scols = sdf.columns
                        srows = [tuple(r) for r in sdf.collect()]
                    cur = con.execute(REGISTRY[name].oracle)
                    dcols = [d[0] for d in cur.description]
                    drows = cur.fetchall()
                    ok = (
                        sorted(scols) == sorted(dcols)
                        and _value_hash(scols, srows) == _value_hash(dcols, drows)
                    )
                    results.append([name, ok, f"{len(srows)} vs {len(drows)} rows"])
                except Exception as e:  # noqa: BLE001
                    results.append([name, False, f"{type(e).__name__}: {e}"])
            return results
        finally:
            con.close()

    os.makedirs(base, exist_ok=True)
    return _cached(os.path.join(base, "grades.json"), grade)


WORKLOADS = {
    "logs": (prepare_logs, run_logs),
    "curate": (prepare_curate, run_curate),
}
