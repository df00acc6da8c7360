"""The workloads, each driving the engine's public functions.

* ``serve_zipf``  — bulk build_index + write_index of a generated corpus
  (the crawl-reindex path), read_index, then one closed-loop client
  sending a Zipf query log through wand_topk_local.
* ``ingest_live`` — micro-batches into an empty IncrementalIndexer (edits
  through upsert_batch), maybe_compact after each, then one 16-query
  wand_topk_batch msearch over as_index().

Every engine call goes through its module attribute (``build.build_index``,
``wand.wand_topk_local``...) so the traced run's wrappers see it.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from oracle import Bm25Oracle, same_ranking

GEN_STRIDE = 1 << 40  # the engine's internal id offset per edit generation


@dataclass
class Ctx:
    """One run: inputs, settings, the live session and what was measured."""

    params: dict
    work: str
    inp: str
    meta: dict
    tracer: object | None = None
    spark: object | None = None
    attempted: int = 0
    failed: int = 0
    setup_s: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    phases: dict = field(default_factory=dict)
    _t_mark: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Wall time since the previous mark, reported per phase."""
        now = time.perf_counter()
        self.phases[phase] = self.phases.get(phase, 0.0) + now - self._t_mark
        self._t_mark = now

    @property
    def n_parts(self) -> int:
        return self.params["generator"]["n_doc_parts"]

    def request(self) -> None:
        if self.tracer is not None:
            self.tracer.new_request()

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM of process {pid} not available")


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark driver: the gateway JVM (in local
    mode the driver, with the executors' task threads) plus this Python
    client process."""
    from pyspark import SparkContext

    jvm, client = vm_hwm_mb(SparkContext._gateway.proc.pid), vm_hwm_mb("self")
    print(f"perfbench: peak RSS MB: JVM {jvm:.0f}, Python client {client:.0f}",
          file=sys.stderr)
    return jvm + client


def dir_bytes(path: str) -> int:
    """Bytes of the files under `path` (Hadoop .crc side files excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def start_session(ctx: Ctx):
    from telegram2elastic_spark import session

    # shuffle files go to SPARK_LOCAL_DIRS, which run.py points into ctx.work
    tmp = os.environ["SPARK_LOCAL_DIRS"]
    os.makedirs(tmp, exist_ok=True)
    spark = session.get_spark(
        "perfbench",
        master=ctx.params["spark"]["master"],
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} {ctx.params['spark']['java_options']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(ctx: Ctx, open_fn):
    """Set up `setup_repeats` times — session (re)start plus the workload's
    open step — and keep the last; ctx.setup_s gets each wall time.  The
    JVM is launched before the first repeat (run.py), so every repeat is a
    session restart inside a running JVM."""
    state = None
    for _ in range(ctx.params["setup_repeats"]):
        ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx)
        state = open_fn(ctx)
        ctx.setup_s.append(time.perf_counter() - t0)
    ctx.mark("setup")
    return state


def term_sample(vocab: list[str], n: int = 48) -> list[str]:
    """A fixed, df-spread term sample: log-spaced Zipf ranks."""
    ranks = np.unique(np.geomspace(1, len(vocab), n).astype(int) - 1)
    return [vocab[r] for r in ranks]


# --- serve_zipf ---------------------------------------------------------


def check_build(ctx: Ctx, out: str, oracle: Bm25Oracle, sample: list[str]) -> bool:
    """doc_map row count and the df of sampled terms against the generator."""
    import pyarrow.dataset as ds

    n_rows = ds.dataset(f"{out}/doc_map", format="parquet").count_rows()
    if n_rows != ctx.meta["n_docs"]:
        print(f"perfbench: doc_map has {n_rows} rows, want {ctx.meta['n_docs']}",
              file=sys.stderr)
        return False
    td = ds.dataset(f"{out}/term_dict", format="parquet", partitioning="hive")
    got = td.to_table(
        columns=["term", "df"], filter=ds.field("term").isin(sample)
    ).to_pydict()
    got = dict(zip(got["term"], got["df"]))
    bad = [t for t in sample if got.get(t, 0) != oracle.df(t)]
    if bad:
        print(f"perfbench: df mismatch for {bad[:5]}", file=sys.stderr)
    return not bad


def load_corpus_oracle(ctx: Ctx) -> Bm25Oracle:
    import pyarrow.parquet as pq

    tok = np.load(f"{ctx.inp}/tokens.npz")
    docs = pq.read_table(f"{ctx.inp}/documents.parquet", columns=["doc_id", "lang"])
    return Bm25Oracle(
        docs["doc_id"].to_numpy(),
        tok["ids"],
        tok["offs"],
        load_vocab(ctx),
        docs["lang"].to_pylist(),
    )


def load_vocab(ctx: Ctx) -> list[str]:
    with open(f"{ctx.inp}/vocab.json") as f:
        return json.load(f)


def serve_zipf(ctx: Ctx) -> None:
    from telegram2elastic_spark import corpus as corpus_mod
    from telegram2elastic_spark.index import build
    from telegram2elastic_spark.query import wand

    # warm-up, untimed: a small build of the corpus's first pages starts
    # the session's Python workers and lets the JIT compile every build
    # stage, as in a long-lived indexing process (the build of a cold JVM
    # spread ±10 % from run to run)
    warm_dir = os.path.join(ctx.work, "warm_index")
    corpus = corpus_mod.load_corpus(ctx.spark, ctx.inp)
    build.write_index(
        build.build_index(corpus.limit(ctx.params["generator"]["warmup_docs"]),
                          n_doc_parts=ctx.n_parts),
        warm_dir,
    )
    ctx.mark("warm_up")
    # bulk build of the served index (the crawl-reindex path), timed; the
    # index is always built here, by the code under test
    index_dir = os.path.join(ctx.work, "serve_index")
    ctx.request()
    ctx.attempted += 1
    timings: dict = {}
    t0 = time.perf_counter()
    corpus = corpus_mod.load_corpus(ctx.spark, ctx.inp)
    idx = build.build_index(corpus, n_doc_parts=ctx.n_parts)
    if ctx.tracer is not None:
        # traced run only: term_frequencies materialized in a span of its own
        ctx.tracer.call("build.tf", idx["_tf"].count)
    build.write_index(idx, index_dir, timings=timings)
    build_s = time.perf_counter() - t0
    ctx.mark("build")

    index = setup(ctx, lambda c: build.read_index(c.spark, index_dir))
    with open(f"{ctx.inp}/queries.json") as f:
        log = json.load(f)
    with open(f"{ctx.inp}/warmup.json") as f:
        warm_log = json.load(f)
    # warm the JVM's JIT on the filtered path (a Spark job per request)
    # through a throwaway handle: the timed handle's caches stay cold
    warm = build.read_index(ctx.spark, index_dir)
    for req in warm_log:
        wand.wand_topk_local(warm, req["terms"], k=10,
                             doc_filter=f"lang = '{req['lang']}'")
    del warm
    ctx.mark("warm_up")
    recs, results = [], []
    seen: set = set()
    t_start = time.perf_counter()
    for i, req in enumerate(log):
        kind, terms = req["kind"], req["terms"]
        after = None
        if kind == "page2" and results[-1]:
            last_doc, last_score = results[-1][-1]
            after = (last_score, last_doc)
        doc_filter = f"lang = '{req['lang']}'" if kind == "filtered" else None
        n_first = sum(t not in seen for t in terms)
        seen.update(terms)
        ctx.request()
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            res = wand.wand_topk_local(
                index, terms, k=10, doc_filter=doc_filter, after=after
            )
            res = [(int(d), float(s)) for d, s in res]
        except Exception:
            res = None
            ctx.fail(f"query {i} raised:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0
        results.append(res or [])
        recs.append({"i": i, "kind": kind, "n_first": n_first, "lat": dt,
                     "ok": res is not None, "after": after is not None})
    wall = time.perf_counter() - t_start
    ctx.peak_rss_mb = peak_rss_mb()
    ctx.mark("measure")

    # output checks, outside the timed windows
    oracle = load_corpus_oracle(ctx)
    if not check_build(ctx, index_dir, oracle, term_sample(load_vocab(ctx))):
        ctx.fail("the built index failed its checks")
    n_checked = 0
    for r, res in zip(recs, results):
        i = r["i"]
        if not r["ok"] or not (i % 20 == 0 or r["kind"] != "plain"):
            continue
        req = log[i]
        offset = len(results[i - 1]) if r["after"] else 0
        want = oracle.topk(req["terms"], 10, req.get("lang"), offset)
        n_checked += 1
        if not same_ranking(res, want):
            ctx.fail(f"query {i} ({r['kind']}) {req['terms']}: got {res[:3]}.. "
                     f"want {want[:3]}..")
    lat = np.array([r["lat"] for r in recs])
    print(f"perfbench: serve_zipf {len(recs)} queries in {wall:.2f} s, "
          f"{int((lat > pct(lat, 99)).sum())} beyond p99, {n_checked} checked",
          file=sys.stderr)
    ctx.e2e.update(
        docs_per_s=ctx.meta["n_docs"] / build_s,
        write_p50_s=build_s,
        bytes_per_text_byte=dir_bytes(index_dir) / ctx.meta["text_bytes"],
        query_p50_ms=pct(lat, 50) * 1e3,
        query_p99_ms=pct(lat, 99) * 1e3,
        queries_per_s=len(recs) / wall,
    )
    if ctx.tracer is not None:
        build_layer(ctx, index_dir, timings)
        codec_layer(ctx, index_dir)
        serve_layer(ctx, index_dir, recs, results, log)
        ctx.layer["trace.query_p50_ms"] = ctx.e2e["query_p50_ms"]


# --- ingest_live --------------------------------------------------------


def ingest_oracle(ctx: Ctx, plan: dict) -> Bm25Oracle:
    """Live documents after the last batch, edits applied, under the
    engine's internal ids (doc_id + generation * GEN_STRIDE)."""
    live: dict[int, tuple[int, np.ndarray]] = {}
    for b in plan["batches"]:
        z = np.load(f"{ctx.inp}/batches/{b['file'].replace('.parquet', '.npz')}")
        offs = z["offs"]
        for j, d in enumerate(z["doc_ids"]):
            d = int(d)
            key = d if d not in live else live[d][0] + GEN_STRIDE
            live[d] = (key, z["ids"][offs[j] : offs[j + 1]])
    keys = [k for k, _ in live.values()]
    toks = [t for _, t in live.values()]
    offs = np.zeros(len(toks) + 1, dtype=np.int64)
    np.cumsum([t.size for t in toks], out=offs[1:])
    return Bm25Oracle(keys, np.concatenate(toks), offs, load_vocab(ctx))


def ingest_live(ctx: Ctx) -> None:
    """A fixed sequence of micro-batches into an empty indexer, so every
    run merges the same shape of segments whatever the program's speed.

    The first batch goes through ingest_batch into the empty indexer and
    pays the run's one-off start-up (the session's Python workers, first
    use of every kernel): it counts in docs_per_s, not in write_p50_s.
    Every later batch carries edits through upsert_batch and is followed
    by its msearch, sent `msearch_repeats` times.  The policy merges all
    segments after the last batch."""
    from telegram2elastic_spark.corpus import as_corpus
    from telegram2elastic_spark.query import wand
    from telegram2elastic_spark.streaming import ingest

    with open(f"{ctx.inp}/ingest.json") as f:
        plan = json.load(f)
    policy = ctx.params["compaction_policy"]
    frames = setup(ctx, lambda c: [
        as_corpus(c.spark.read.parquet(f"{ctx.inp}/batches/{b['file']}"))
        for b in plan["batches"]
    ])
    lat, msearch_s, segs = [], [], []
    docs = answered = n_compact = n_tomb = seg_max = 0
    walls = []  # batch + maybe_compact: the write path, stalls included
    last = None  # (msearch rows, queries) of the last batch
    base = os.path.join(ctx.work, "ingest")
    ix = ingest.IncrementalIndexer(ctx.spark, base, n_doc_parts=ctx.n_parts)
    for b, batch in enumerate(plan["batches"]):
        bid = batch["file"]
        ctx.request()
        ctx.attempted += 2  # the batch and its maybe_compact
        t0 = time.perf_counter()
        try:
            add = ix.ingest_batch if b == 0 else ix.upsert_batch
            entry = add(frames[b], bid)
            if b:
                lat.append(time.perf_counter() - t0)
            docs += batch["n_docs"]
            n_tomb += (entry or {}).get("n_tombstones", 0)
        except Exception:
            ctx.fail(f"batch {bid} raised:\n{traceback.format_exc()}")
        seg_max = max(seg_max, len(ix.manifest()))
        try:
            n_compact += len(ix.maybe_compact(**policy))
        except Exception:
            ctx.fail(f"maybe_compact after {bid} raised:\n{traceback.format_exc()}")
        walls.append(time.perf_counter() - t0)

        queries = dict(enumerate(batch["msearch"]))
        if not queries:
            continue

        def msearch():
            return wand.wand_topk_batch(ix.as_index(), queries, k=10).collect()

        # the same msearch several times: a median over samples spread in
        # time outvotes second-scale host noise on a shared machine
        lat_b = []
        for _ in range(ctx.params["msearch_repeats"]):
            ctx.attempted += len(queries)
            t0 = time.perf_counter()
            try:
                if ctx.tracer is not None:
                    rows = ctx.tracer.call("wand_batch.msearch", msearch)
                else:
                    rows = msearch()
                lat_b.append(time.perf_counter() - t0)
                answered += len(queries)
                segs.append(len(ix.manifest()))
                last = (rows, queries)
            except Exception:
                ctx.failed += len(queries) - 1
                ctx.fail(f"msearch after {bid} raised:\n{traceback.format_exc()}")
                last = None
        msearch_s.append(lat_b)
    if n_compact == 0:
        ctx.fail("the run completed no compaction")
    ctx.peak_rss_mb = peak_rss_mb()
    ctx.mark("measure")
    written = dir_bytes(base)
    text_bytes = ingest_text_bytes(ctx, plan)

    # output check: the last msearch against the oracle over live documents
    if last is not None:
        rows, queries = last
        oracle = ingest_oracle(ctx, plan)
        got: dict[int, list] = {q: [] for q in queries}
        for r in rows:
            got[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        for q, terms in queries.items():
            res = sorted(got[q], key=lambda x: (-x[1], x[0]))
            if not same_ranking(res, oracle.topk(terms, 10)):
                ctx.fail(f"msearch query {q} {terms}: got {res[:3]}..")
    all_s = [x for b in msearch_s for x in b]
    print("perfbench: batch latency, batch + maybe_compact seconds "
          + " | ".join(f"{x:.3f} {w:.3f}" for x, w in zip([np.nan] + lat, walls)),
          file=sys.stderr)
    print("perfbench: msearch seconds per batch "
          + " | ".join(" ".join(f"{x:.3f}" for x in b) for b in msearch_s),
          file=sys.stderr)
    if not lat or not all_s:
        return
    ctx.e2e.update(
        docs_per_s=docs / sum(walls),
        write_p50_s=pct(lat, 50),
        bytes_per_text_byte=written / text_bytes,
        query_p50_ms=pct(all_s, 50) * 1e3,
        # the tail a reader sees: the first msearch over each newly
        # committed index state, averaged over the batches
        query_p99_ms=float(np.mean([b[0] for b in msearch_s if b])) * 1e3,
        queries_per_s=answered / sum(all_s),
    )
    if ctx.tracer is not None:
        ingest_layer(ctx, all_s, segs, n_compact, plan["compaction_groups"],
                     written / text_bytes, seg_max, n_tomb, len(plan["batches"]))
        ctx.layer["trace.query_p50_ms"] = ctx.e2e["query_p50_ms"]


def ingest_text_bytes(ctx: Ctx, plan: dict) -> int:
    import pyarrow.parquet as pq

    return sum(
        sum(len(t.encode()) for t in
            pq.read_table(f"{ctx.inp}/batches/{b['file']}", columns=["text"])["text"].to_pylist())
        for b in plan["batches"]
    )


# --- per-layer metrics (traced run) -------------------------------------


def build_layer(ctx, out, timings):
    """Build-layer numbers of the one bulk build: span self times and Spark
    counts, write_index's per-table timings, and the index's own counts."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tr, L = ctx.tracer, ctx.layer
    # the timed build only: the warm-up build's spans come first
    spans = (tr.named("build.build_index")[-1:] + tr.named("build.write_index")[-1:]
             + tr.named("build.tf"))
    L["build.tf_s"] = tr.self_s("build.tf")
    for key, name in [
        ("postings_encode_write", "build.postings_write_s"),
        ("term_dict_write", "build.term_dict_write_s"),
        ("term_dict_sorted_write", "build.term_dict_sorted_write_s"),
        ("doc_map_write", "build.doc_map_write_s"),
        ("stats_write", "build.stats_write_s"),
    ]:
        L[name] = timings.get(key, 0.0)
    L["build.spark_jobs"] = sum(s.self_jobs for s in spans)
    L["build.spark_tasks"] = sum(s.self_tasks for s in spans)
    L["build.tasks_failed"] = sum(s.failed_tasks - s.child_failed for s in spans)
    post = ds.dataset(f"{out}/postings", format="parquet", partitioning="hive")
    L["build.postings"] = pc.sum(post.to_table(columns=["n_docs"])["n_docs"]).as_py()
    L["build.blocks"] = post.count_rows()
    L["build.terms"] = ds.dataset(
        f"{out}/term_dict", format="parquet", partitioning="hive").count_rows()
    L["build.tokens"] = ds.dataset(f"{out}/stats", format="parquet").to_table(
        columns=["total_tokens"])["total_tokens"][0].as_py()
    for sub in ("postings", "term_dict", "doc_map"):
        L[f"build.bytes.{sub}"] = dir_bytes(f"{out}/{sub}")
    L["build.bytes.total"] = dir_bytes(out)


def codec_layer(ctx, out):
    """Timed encode/decode calls on a fixed term sample of a built index."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from telegram2elastic_spark.index import codec

    decode = getattr(codec.decode_many, "__wrapped__", codec.decode_many)
    encode = getattr(codec.encode_blocks, "__wrapped__", codec.encode_blocks)
    post = ds.dataset(f"{out}/postings", format="parquet", partitioning="hive")
    t = post.to_table(columns=["term", "salt", "block_id", "n_docs",
                               "doc_gaps", "tf_bytes", "dl_bytes"])
    n_post = pc.sum(t["n_docs"]).as_py()
    n_bytes = sum(pc.sum(pc.binary_length(t[c])).as_py()
                  for c in ("doc_gaps", "tf_bytes", "dl_bytes"))
    ctx.layer["codec.bytes_per_posting"] = n_bytes / n_post
    df = t.select(["term", "salt", "block_id", "n_docs",
                   "doc_gaps", "tf_bytes", "dl_bytes"]).to_pandas()
    by_df = df.groupby("term")["n_docs"].sum().sort_values(ascending=False, kind="stable")
    pick = np.unique(np.geomspace(1, len(by_df), 48).astype(int) - 1)
    terms = set(by_df.index[pick])
    groups = [
        g.sort_values(["salt", "block_id"])
        for _, g in df[df["term"].isin(terms)].groupby(["term", "salt"])
    ]
    inputs = [
        ([bytes(x) for x in g["doc_gaps"]], [bytes(x) for x in g["tf_bytes"]],
         [bytes(x) for x in g["dl_bytes"]], g["n_docs"].to_numpy())
        for g in groups
    ]
    n = sum(int(x[3].sum()) for x in inputs)
    dec, enc = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        decoded = [decode(*x) for x in inputs]
        dec.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for ids, tfs, dls in decoded:
            encode(ids, tfs, doc_lens=dls)
        enc.append(time.perf_counter() - t0)
    ctx.layer["codec.decode_postings_per_s"] = n / float(np.median(dec))
    ctx.layer["codec.encode_postings_per_s"] = n / float(np.median(enc))


def serve_layer(ctx, index_dir, recs, results, log):
    import pyarrow.dataset as ds

    tr = ctx.tracer
    L = ctx.layer
    spans = tr.named("wand_local.wand_topk_local")[-len(recs):]  # timed loop
    reads = tr.named("build.read_index")
    L["serve.read_index_s"] = float(np.median([s.dur for s in reads]))
    by_kind: dict = {}
    for r, s in zip(recs, spans):
        r["self"], r["jobs"] = s.self_s, s.jobs
        by_kind.setdefault(r["kind"], []).append(r)
    warm = [r["self"] for r in by_kind.get("plain", []) if not r["n_first"]]
    cold = [r["self"] for r in by_kind.get("plain", []) if r["n_first"]]
    med = lambda xs: pct(xs, 50) * 1e3 if xs else 0.0  # noqa: E731
    L["wand_local.warm_ms_p50"] = med(warm)
    L["wand_local.cold_ms_p50"] = med(cold)
    L["wand_local.filtered_ms_p50"] = med([r["self"] for r in by_kind.get("filtered", [])])
    L["wand_local.page2_ms_p50"] = med([r["self"] for r in by_kind.get("page2", [])])
    sent = sum(len(log[r["i"]]["terms"]) for r in recs)
    L["wand_local.first_touch_ratio"] = sum(r["n_first"] for r in recs) / sent
    terms = sorted({t for r in recs for t in log[r["i"]]["terms"]})
    td = ds.dataset(f"{index_dir}/term_dict", format="parquet", partitioning="hive")
    got = td.to_table(columns=["term", "df"], filter=ds.field("term").isin(terms)).to_pydict()
    df = dict(zip(got["term"], got["df"]))
    postings = sum(df.get(t, 0) for r in recs for t in log[r["i"]]["terms"])
    hits = sum(len(x) for x in results)
    L["wand_local.postings_per_query"] = postings / len(recs)
    L["wand_local.postings_per_result"] = postings / max(hits, 1)
    for kind in ("plain", "filtered", "page2"):
        rs = by_kind.get(kind, [])
        L[f"wand_local.spark_jobs_per_query.{kind}"] = (
            float(np.mean([r["jobs"] for r in rs])) if rs else 0.0
        )


def ingest_layer(ctx, msearch_s, segs, n_compact, groups, bpt, seg_max, n_tomb, n_batches):
    tr = ctx.tracer
    L = ctx.layer
    med = lambda spans: float(np.median([s.dur for s in spans])) if spans else 0.0  # noqa: E731
    batches = [s for s in tr.named("ingest.ingest_batch")
               if s.parent is None or tr.spans[s.parent].name != "ingest.upsert_batch"]
    upserts = tr.named("ingest.upsert_batch")
    L["ingest.batch_s"] = med(batches)
    L["ingest.upsert_s"] = med(upserts)
    L["ingest.as_index_s"] = med(tr.named("ingest.as_index"))
    L["ingest.compact_s"] = tr.self_s("ingest.compact")
    L["ingest.compact_count"] = n_compact
    L["ingest.compact_groups"] = groups
    L["ingest.bytes_written_per_text_byte"] = bpt
    L["ingest.segments_max"] = seg_max
    L["ingest.tombstones"] = n_tomb
    L["ingest.spark_jobs_per_batch"] = (
        sum(s.jobs for s in batches + upserts) / max(n_batches, 1)
    )
    # the build layer's Spark work on this path: each micro-batch's
    # build_index and segment writes (tokenize, tf, encode, parquet)
    L["build.spark_jobs"] = sum(s.jobs for s in batches + upserts)
    L["build.spark_tasks"] = sum(s.tasks for s in batches + upserts)
    L["build.tasks_failed"] = sum(s.failed_tasks for s in batches + upserts)
    ms = tr.named("wand_batch.msearch")
    L["wand_batch.msearch_s"] = float(np.median(msearch_s)) if msearch_s else 0.0
    L["wand_batch.segments_per_msearch"] = float(np.mean(segs)) if segs else 0.0
    L["wand_batch.spark_jobs_per_msearch"] = (
        float(np.mean([s.jobs for s in ms])) if ms else 0.0
    )
    L["wand_batch.tasks_per_msearch"] = (
        float(np.mean([s.tasks for s in ms])) if ms else 0.0
    )


WORKLOADS = {
    "serve_zipf": serve_zipf,
    "ingest_live": ingest_live,
}
