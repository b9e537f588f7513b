"""The benchmark's workloads, their correctness checks and metrics.

One process, ``local[4]``, one closed-loop client: every call is issued
after the previous one has returned and been materialized.  Each call
into zsolr sits inside a ``Tracer`` span named ``<module>.<function>``;
checks run outside the spans and never touch the timings.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import statistics
import time

import numpy as np
import pandas as pd

import gen

K = 10
N_STAGE = 5             # set-up repetitions per run (setup_s = median)
MIN_LOOP = 3            # dedup loop calls before the time box may close
MIN_SERIAL = 8          # stream requests before the time box may close
BATCH = 6               # stream queries replayed in one search_batch call
N_ADD_NEW, N_ADD_CHANGED, N_DELETE = 30, 20, 10
ATOL = 1e-9


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, args, work: str, t0: float):
        self.args = args
        self.t0 = t0
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict = {}
        self.layers: dict = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed}

    def mark(self, phase: str):
        """Seconds since process start at the end of a phase."""
        self.detail.setdefault("phase_end_s", {})[phase] = (
            time.perf_counter() - self.t0)

    def check(self, name: str, ok: bool):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def op(self, name: str, fn):
        """Run one benchmark op; an exception counts as a failed op."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - reported, not hidden
            self.attempted += 1
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None


# -- set-up ---------------------------------------------------------------

def stage(spark, table, path: str) -> int:
    """Write one input table as parquet and scan it back with Spark.
    Returns the row count mismatch (0 when the scan sees every row)."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-0.parquet")
    return abs(spark.read.parquet(path).count() - table.num_rows)


def build_index(spark, tr, src: str, root: str):
    """IndexBuilder.build of the staged corpus at ``src`` into a new
    catalog at ``root``, in one span."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    cat = ManifestParquetCatalog(root)
    with tr.span("build.IndexBuilder.build", tr.request()) as s:
        res = IndexBuilder(cat, BuildConfig()).build(spark, src)
    s["stages"] = res.stages
    return cat, res, s


def check_build(run: Run, spark, cat, res, corpus):
    run.check("build.n_docs", res.n_docs == len(corpus.rows))
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in
           cat.read(spark, "docs").select("repo", "path", "content_sha256")
           .collect()}
    want = {(r["repo"], r["path"]):
            hashlib.sha256(r["content"].encode()).hexdigest()
            for r in corpus.rows}
    run.check("build.content_sha256", got == want)


def catalog_bytes(root: str) -> tuple[dict, int]:
    """Data bytes per table and the number of data files."""
    out, files = {}, 0
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table, "data")
        total = 0
        for d, _dirs, fs in os.walk(tdir):
            for f in fs:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(d, f))
                    files += 1
        out[table] = total
    return out, files


def index_metrics(run: Run, spark, tr, cat, res, build_span, corpus):
    n = len(corpus.rows)
    props = corpus.properties()
    by_table, files = catalog_bytes(cat.root)
    ratio = sum(by_table.values()) / props["content_bytes"]
    run.detail.update({"build_files_per_s": n / build_span["wall_s"],
                       "index_bytes_per_input_byte": ratio})
    if not tr.on:
        return
    post = [v for k, v in res.stages.items() if k.startswith("postings_g")]
    manifest = cat.read(spark, "manifest").filter("stage = 'stats'")
    L = run.layers
    L["build.docs_tfs_ms"] = res.stages["docs_tfs"]["wall_ms"]
    L["build.postings_ms"] = sum(p["wall_ms"] for p in post)
    L["build.stats_ms"] = sum(r["wall_ms"] for r in manifest.collect())
    L["build.posting_rows"] = sum(p["rows"] for p in post)
    L["build.hot_terms"] = max((p.get("hot_terms", 0) for p in post),
                               default=0)
    L["build.driver_self_s"] = build_span["driver_self_s"]
    L["build.jobs"] = build_span["jobs"]
    L["build.tasks"] = build_span["tasks"]
    L["build.task_s"] = build_span["task_ms"] / 1000
    L["build.shuffle_write_bytes"] = build_span["shuffle_write_bytes"]
    L["build.input_bytes"] = build_span["input_bytes"]
    for t in ("postings", "tfs", "docs", "term_stats"):
        L[f"catalog.bytes.{t}"] = by_table.get(t, 0)
    L["catalog.files"] = files
    L["catalog.index_bytes_per_input_byte"] = ratio
    L["build.files_per_s"] = n / build_span["wall_s"]


# -- dedup workload -------------------------------------------------------

def run_dedup(run: Run, spark, tr, corpus):
    """The near-dup pipeline with default parameters, as
    build_training_set calls it.  Set-up: the exact dedup that precedes
    the near-dup step (dedup_exact + left_semi join).  Job:
    minhash_lsh_pairs, first in a fresh process.  Loop: minhash_lsh_pairs
    recomputed from scratch for --seconds.  Sequence: minhash_lsh_pairs
    once more, collected to the driver (the review set).  Then, outside
    the end-to-end figures, dedup_keep over those pairs."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from zsolr import ops

    texts = [r["content"] for r in corpus.rows]
    src = f"{run.work}/input/dedup_docs"
    run.check("stage.rows", stage(spark, pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts}), src) == 0)
    docs = spark.read.parquet(src)
    ref_pairs = lsh_reference(texts)
    first_copy: dict = {}
    for i, t in enumerate(texts):
        first_copy.setdefault(t, i)
    run.mark("stage")

    def exact():
        keepers = ops.dedup_exact(docs).select(F.col("keeper")
                                               .alias("doc_id"))
        return docs.join(keepers, "doc_id", "left_semi")

    times = []
    for _ in range(N_STAGE):
        with tr.span("ops.dedup_exact", tr.request(), phase="setup") as s:
            n = run.op("ops.dedup_exact", lambda: exact().count())
        run.check("ops.dedup_exact count", n == len(first_copy))
        times.append(s["wall_s"])
    run.e2e["setup_s"] = (statistics.median(times), "s")
    kept_exact = set(exact().select("doc_id").toPandas()["doc_id"])
    run.check("ops.dedup_exact", kept_exact == set(first_copy.values()))
    run.mark("setup")

    def keep(pairs):
        return set(ops.dedup_keep(docs, pairs).select(F.col("doc_id"))
                   .toPandas()["doc_id"].tolist())

    with tr.span("ops.minhash_lsh_pairs", tr.request()) as s_job:
        n_pairs = run.op("ops.minhash_lsh_pairs",
                         lambda: ops.minhash_lsh_pairs(docs).count())
    run.check("ops.pairs count", n_pairs == len(ref_pairs))
    run.e2e["job_s"] = (s_job["wall_s"], "s")
    run.mark("job")

    walls = []
    deadline = time.perf_counter() + run.args.seconds
    while len(walls) < MIN_LOOP or time.perf_counter() < deadline:
        spark.catalog.clearCache()      # each call recomputes from scratch
        with tr.span("ops.minhash_lsh_pairs", tr.request(),
                     phase="loop") as s:
            got = run.op("ops.minhash_lsh_pairs",
                         lambda: ops.minhash_lsh_pairs(docs).count())
        walls.append(s["wall_s"])
        run.check("ops.pairs count", got == len(ref_pairs))
    run.e2e["op_p50_ms"] = (statistics.median(walls) * 1000, "ms")
    run.mark("loop")

    spark.catalog.clearCache()
    with tr.span("ops.minhash_lsh_pairs", tr.request(),
                 phase="collect") as s_col:
        last = ops.minhash_lsh_pairs(docs)
        pp = run.op("collect pairs", last.toPandas)
    run.e2e["sequence_s"] = (s_col["wall_s"], "s")
    run.mark("sequence")

    if pp is None:
        return
    got_pairs = set(zip(pp["doc_a"].tolist(), pp["doc_b"].tolist()))
    run.check("ops.pairs == reference",
              len(pp) == len(got_pairs) and got_pairs == ref_pairs)
    planted = set(corpus.planted)
    found = len(planted & got_pairs)
    run.detail.update({"candidate_pairs": n_pairs, "planted_found": found})
    if not tr.on:
        return

    # The traced run goes on with dedup_keep over the pairs.  Its wall is
    # no end-to-end figure: it follows the number of label-propagation
    # rounds the seed's pair graph needs (4-8 at this size).
    with tr.span("ops.dedup_keep", tr.request()) as s_keep:
        kept = run.op("ops.dedup_keep", lambda: keep(last))
    if kept is None:
        return
    run.check("ops.dedup_keep", kept == _union_find_keep(
        len(corpus.rows), got_pairs))
    run.detail.update({
        "dedup_docs_per_s": len(corpus.rows) / (s_job["wall_s"]
                                                 + s_keep["wall_s"]),
        "keep_s": s_keep["wall_s"], "keep_jobs": s_keep["jobs"],
        "kept_docs": len(kept)})
    run.mark("keep")
    L = run.layers
    L["ops.minhash_pairs_s"] = s_job["wall_s"]
    L["ops.keep_s"] = s_keep["wall_s"]
    L["ops.candidate_pairs"] = n_pairs
    L["ops.planted_recall"] = found / max(1, len(planted))
    L["ops.pair_precision"] = found / max(1, n_pairs)
    L["ops.kept_docs"] = len(kept)
    L["ops.shuffle_write_bytes"] = (s_job["shuffle_write_bytes"]
                                    + s_keep["shuffle_write_bytes"])
    L["ops.tasks"] = s_job["tasks"] + s_keep["tasks"]


# MinHash-LSH as zsolr.ops documents it, restated in plain Python: the
# distinct [a-z0-9]+ tokens of the lowercased text; base(t) = the first 15
# hex digits of md5(t); member k = (a_k·(base mod 2^28) + b_k·(base >> 28)
# + c_k) mod (2^61 − 1), with a_k, b_k, c_k the first 7 hex digits of
# md5("a<k>"), md5("b<k>"), md5("c<k>") made odd; bands of consecutive
# members; buckets of more than max_bucket documents dropped.
_LSH_P = (1 << 61) - 1
_LSH_MASK = (1 << 28) - 1


def _md5_int(s: str, digits: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:digits], 16)


def lsh_reference(texts, n_hashes: int = 8, band_rows: int = 2,
                  max_bucket: int = 4096) -> set:
    """Candidate pairs (a, b), a < b, over documents 0..n-1: what
    ops.minhash_lsh_pairs must return with its defaults."""
    family = [tuple(_md5_int(f"{tag}{k}", 7) | 1 for tag in "abc")
              for k in range(n_hashes)]
    base: dict = {}
    buckets: dict = {}
    for doc, text in enumerate(texts):
        toks = set(re.findall("[a-z0-9]+", text.lower()))
        if not toks:
            continue
        xs = [base[t] if t in base else base.setdefault(t, _md5_int(t, 15))
              for t in toks]
        sig = [min((a * (x & _LSH_MASK) + b * (x >> 28) + c) % _LSH_P
                   for x in xs) for a, b, c in family]
        for band in range(n_hashes // band_rows):
            key = (band, tuple(sig[band * band_rows:(band + 1) * band_rows]))
            buckets.setdefault(key, []).append(doc)
    pairs = set()
    for ids in buckets.values():
        if len(ids) <= max_bucket:
            pairs.update(itertools.combinations(ids, 2))
    return pairs


def _union_find_keep(n: int, pairs) -> set:
    """Min-id representative of every connected component (singletons
    included) — what dedup_keep must keep."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in range(n) if find(i) == i}


# -- query workload -------------------------------------------------------

class Reference:
    """BM25 reference (tests/oracle.py's OracleIndex) over the live
    documents of the catalog's current snapshot, keyed by the engine's doc
    ids, which are matched to the generated rows on (repo, path)."""

    def __init__(self, spark, cat, content: dict):
        from oracle import OracleIndex

        live = cat.read(spark, "docs").select("doc_id", "repo", "path",
                                              "lang")
        if cat.exists("tombstones"):
            live = live.join(cat.read(spark, "tombstones")
                             .select("doc_id"), "doc_id", "left_anti")
        self.ids = {}
        rows = []
        for r in live.collect():
            key = (r["repo"], r["path"])
            self.ids[key] = r["doc_id"]
            rows.append({"doc_id": r["doc_id"], "lang": r["lang"],
                         "content": content[key]})
        self.index = OracleIndex(rows)

    def matches(self, q: str, got) -> bool:
        from zsolr.parse import parse

        want = self.index.search(parse(q), k=K)
        return got is not None and len(want) == len(got) and all(
            a == c and abs(b - d) <= ATOL
            for (a, b), (c, d) in zip(want, got))


def _search(tr, searcher, q: str, req: int, **attrs):
    """parse → Searcher.search → collect, one span each."""
    from zsolr.parse import parse

    with tr.span("parse.parse", req, **attrs):
        ast = parse(q)
    with tr.span("search.Searcher.search", req, **attrs):
        df = searcher.search(ast, k=K)
    with tr.span("search.collect", req, **attrs):
        rows = df.collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _request(run: Run, tr, searcher, conn, qd: dict):
    """One stream request, timed to its materialized rows."""
    req = tr.request()
    attrs = {"shape": qd["shape"], "cls": qd["cls"]}

    def call():
        if not qd["fq"]:
            return _search(tr, searcher, qd["q"], req, **attrs)
        with tr.span("connection.SolrConnection.search", req, **attrs):
            r = conn.search(qd["base"], rows=K, fq=qd["fq"],
                            fl="doc_id,score")
        return [(d["doc_id"], d["score"]) for d in r.docs]

    with tr.span("request", req, **attrs) as s:
        got = run.op(f"search {qd['q']}", call)
    return got, s["wall_s"]


def _rarest(c: gen.Corpus, text: str) -> str:
    return min(gen.terms_of(text), key=lambda t: (c.df[c.rank_of[t]], t))


def run_query(run: Run, spark, tr, corpus):
    """Set-up builds and opens the index.  Timed: a closed-loop stream of
    distinct seeded queries (parse → Searcher.search → collect; the
    lang-filter shape through SolrConnection.search with fq/fl) for
    --seconds, then a fixed sequence: search_batch over stream queries
    replayed, incremental_add, delete_by_ids, Searcher reopen, reads."""
    import pyarrow as pa

    from zsolr import lifecycle
    from zsolr.connection import SolrConnection
    from zsolr.search import Searcher

    src = f"{run.work}/input/corpus"
    run.check("stage.rows", stage(spark, pa.Table.from_pylist(corpus.rows),
                                  src) == 0)
    run.mark("stage")
    cat, res, bspan = build_index(spark, tr, src, f"{run.work}/index")
    run.e2e["job_s"] = (bspan["wall_s"], "s")
    run.mark("build")
    check_build(run, spark, cat, res, corpus)
    index_metrics(run, spark, tr, cat, res, bspan, corpus)
    content = {(r["repo"], r["path"]): r["content"] for r in corpus.rows}
    ref = Reference(spark, cat, content)
    run.mark("reference")
    # set-up unit: open a Searcher on the built index
    opens = []
    for _ in range(N_STAGE):
        with tr.span("search.Searcher", tr.request(), phase="open") as s_open:
            searcher = Searcher(spark, cat)
        opens.append(s_open["wall_s"])
    run.e2e["setup_s"] = (statistics.median(opens), "s")
    conn = SolrConnection(spark, cat)
    stream = gen.make_queries(run.args.seed, corpus, 300)
    run.mark("open")

    # -- timed loop: the serial stream --
    served = []
    deadline = time.perf_counter() + run.args.seconds
    for qd in stream:
        if len(served) >= MIN_SERIAL and time.perf_counter() >= deadline:
            break
        got, wall = _request(run, tr, searcher, conn, qd)
        served.append((qd, got, wall))
        run.check(f"search {qd['q']}", ref.matches(qd["q"], got))
    run.e2e["op_p50_ms"] = (
        statistics.median(w for _, _, w in served) * 1000, "ms")
    run.mark("stream")

    # -- timed fixed sequence (sum of its ops; checks in between untimed)
    grp = [(qd, got) for qd, got, _ in served if not qd["fq"]][:BATCH]
    req = tr.request()

    def batch():
        with tr.span("search.Searcher.search_batch", req):
            dfs = searcher.search_batch([qd["q"] for qd, _ in grp], k=K)
        with tr.span("search_batch.collect", req):
            return [[(r["doc_id"], r["score"]) for r in df.collect()]
                    for df in dfs]
    with tr.span("request", req, n=len(grp)) as s_batch:
        out = run.op("search_batch", batch)
    run.check("search_batch == serial", out == [g for _, g in grp])

    run.mark("batch")
    new, changed, deletes = gen.make_writes(
        run.args.seed, corpus, N_ADD_NEW, N_ADD_CHANGED, N_DELETE)
    delta = spark.createDataFrame(pd.DataFrame(new + changed))
    for r in new + changed:
        content[(r["repo"], r["path"])] = r["content"]
    ids = [ref.ids[k] for k in deletes]
    probe = [_rarest(corpus, new[0]["content"]),
             _rarest(corpus, content[deletes[0]])]
    bytes0 = sum(catalog_bytes(cat.root)[0].values())
    req = tr.request()
    reads = []
    with tr.span("request", req, phase="writes") as s_req:
        with tr.span("lifecycle.incremental_add", req) as s_add:
            run.op("lifecycle.incremental_add",
                   lambda: lifecycle.incremental_add(spark, cat, delta))
        with tr.span("lifecycle.delete_by_ids", req) as s_del:
            run.op("lifecycle.delete_by_ids",
                   lambda: lifecycle.delete_by_ids(spark, cat, ids))
        with tr.span("search.Searcher", req, phase="reopen") as s_re:
            searcher = Searcher(spark, cat)
        for q in probe:
            with tr.span("read", req, phase="read_after_write") as s_rd:
                reads.append((q, run.op(f"read {q}", lambda q=q: _search(
                    tr, searcher, q, req))))
            run.detail.setdefault("read_after_write_ms", []).append(
                s_rd["wall_s"] * 1000)
    run.mark("writes")
    added = sum(len(r["content"].encode()) for r in new + changed)
    run.detail["catalog.bytes_written_per_added_byte"] = (
        sum(catalog_bytes(cat.root)[0].values()) - bytes0) / added
    ref = Reference(spark, cat, content)      # live docs after the writes
    for q, got in reads:
        run.check(f"read_after_write {q}", ref.matches(q, got))
    writes = {"add": s_add, "delete": s_del, "reopen": s_re}
    run.e2e["sequence_s"] = (s_batch["wall_s"] + s_req["wall_s"], "s")

    _query_metrics(run, tr, corpus, served, (len(grp), s_batch), writes,
                   cat)
    run.mark("checks")


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _query_metrics(run, tr, corpus, served, batch, writes, cat):
    lat = [w for _, _, w in served]
    qprops = gen.query_properties(corpus, [qd for qd, _, _ in served])
    n_batch, s_batch = batch
    add_w, del_w = writes["add"], writes["delete"]
    raw = run.detail["read_after_write_ms"]
    run.detail.update({
        "search_p50_ms": statistics.median(lat) * 1000,
        "search_samples": len(lat),
        "batch_queries_per_s": n_batch / s_batch["wall_s"],
        "add_s": add_w["wall_s"], "delete_s": del_w["wall_s"],
        "queries": qprops})
    if not tr.on:
        return
    L = run.layers
    reqs = {}
    for s in tr.spans:
        if s["req"] is not None:
            reqs.setdefault(s["req"], []).append(s)

    plain = {"search.Searcher.search", "search.collect"}

    def per_req(key):
        """Per stream request served by Searcher: the key summed over its
        search + collect spans."""
        return [sum(s[key] for s in spans if s["name"] in plain)
                for spans in reqs.values()
                if any(s["name"] == "search.Searcher.search"
                       and "shape" in s for s in spans)]

    L["parse.parse_us_p50"] = _p50(s["wall_s"] * 1e6 for s in
                                   tr.of("parse.parse")
                                   if "shape" in s)
    L["search.open_ms"] = run.e2e["setup_s"][0] * 1000
    L["search.call_ms_p50"] = _p50(s["wall_s"] * 1000 for s in
                                   tr.of("search.Searcher.search")
                                   if "shape" in s)
    L["search.collect_ms_p50"] = _p50(s["wall_s"] * 1000 for s in
                                      tr.of("search.collect")
                                      if "shape" in s)
    L["search.driver_self_ms_p50"] = _p50(
        x * 1000 for x in per_req("driver_self_s"))
    L["search.jobs_per_query"] = _p50(per_req("jobs"))
    L["search.tasks_per_query"] = _p50(per_req("tasks"))
    L["search.shuffle_bytes_per_query"] = _p50(
        per_req("shuffle_write_bytes"))
    L["search.input_bytes_per_query"] = _p50(per_req("input_bytes"))
    for key in gen.SHAPES + gen.CLASSES:
        L[f"search.p50_ms.{key}"] = _p50(
            s["wall_s"] * 1000 for s in tr.of("request")
            if key in (s.get("shape"), s.get("cls")))
    L["search.first_seen_term_share"] = qprops["first_seen_term_share"]
    L["search.queries"] = len(lat)
    L["connection.search_ms_p50"] = _p50(
        s["wall_s"] * 1000 for s in tr.of("connection.SolrConnection.search"))
    bt = [s for s in tr.spans if s["name"] in (
        "search.Searcher.search_batch", "search_batch.collect")]
    L["search_batch.ms_per_query"] = 1000 * s_batch["wall_s"] / n_batch
    L["search_batch.jobs_per_call"] = sum(s["jobs"] for s in bt)
    L["search_batch.shuffle_bytes_per_call"] = sum(
        s["shuffle_write_bytes"] for s in bt)
    L["lifecycle.add_s"] = add_w["wall_s"]
    L["lifecycle.delete_s"] = del_w["wall_s"]
    L["lifecycle.add.jobs"] = add_w["jobs"]
    L["lifecycle.add.input_bytes"] = add_w["input_bytes"]
    L["lifecycle.delete.input_bytes"] = del_w["input_bytes"]
    L["search.reopen_ms"] = writes["reopen"]["wall_s"] * 1000
    L["lifecycle.read_after_write_ms_p50"] = _p50(raw)
    L["catalog.bytes_written_per_added_byte"] = run.detail[
        "catalog.bytes_written_per_added_byte"]
    L["catalog.files_after_writes"] = catalog_bytes(cat.root)[1]
