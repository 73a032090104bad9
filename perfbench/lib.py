"""Pure helpers of the benchmark: workload definitions, input generators,
metric derivation, output checks and result emission.

Nothing here starts a process or touches the engine; `run.py` does that.
"""
import json
import math
import os
import random
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

RUN_SECONDS = 20

# --------------------------------------------------------------- workloads

WORKLOADS = [
    ("crawl_loop",
     "standing crawl loop over a seeded file:// corpus with the live index sink; "
     "the only workload where frontier, fetch, parse and index do the work"),
    ("corpus_unique",
     "6 analytics queries on the fixed seed-42 sf0.01 tables (--seed unused: no held-out seed); "
     "the traced run adds the status stream legs (EventStreams, state store)"),
]

# crawl: H hosts of P pages, every page seeded; page 0 of each host links
# the others, and one cycle fetches the whole corpus. The traced run
# crawls three corpora of this shape: cold (as untraced), plain, traced.
CRAWL = dict(hosts=100, pages=11, delay_ms=100)
CRAWLS = {0: ["cold"], 1: ["cold", "plain", "traced"]}

# corpus: one query per family (frontier top-K, connected components, LSH
# twin, the InputWidth widen class, text twin, graph)
CORPUS_QUERIES = ["q02", "q50", "q22", "q53", "q90", "q49"]
CORPUS_DIR = "data/sf0.01"


def corpus_passes(seconds):
    """Timed passes for a run of `seconds`: one per 10 s, at least one
    (a warm pass takes about 7 s on 4 cores)."""
    return max(1, round(seconds / 10))


# stream (traced corpus run only): three legs in turn, enough batches
# for a pooled p90
STREAM_LEGS = ["windowed_counts", "watermark_dedup", "ttl_dedup"]
STREAM = dict(rows_per_batch=10000, warm_batches=2, timed_batches=34, key_space=60000,
              ttl_key_space=30000)

CRAWL_LEGS = [  # crawlOnce leg -> metric
    ("select", "frontier.select_s"), ("merge", "frontier.merge_s"),
    ("fetch", "fetch.fetch_s"), ("content_store", "fetch.content_store_s"),
    ("parse_chain", "parse.parse_chain_s"),
    ("digest_ledger", "index.digest_ledger_s"), ("band_ledger", "index.band_ledger_s"),
    ("index_sink", "index.sink_s"), ("stats_counts", "streaming.stats_counts_s"),
]

END_TO_END = [
    dict(name="items_per_s", unit="items/s", better="higher", bound=0.25),
    dict(name="setup_s", unit="s", better="lower", bound=0.25),
]


def _per_layer():
    m = [(metric, "s") for _, metric in CRAWL_LEGS]
    m += [("fetch.politeness_floor_s", "s"), ("streaming.unattributed_s", "s"),
          ("frontier.seed_s", "s"), ("streaming.warmup_s", "s"),
          ("trace_overhead_ratio", "ratio"),
          ("spark.jobs_per_cycle", "count"), ("spark.tasks_per_cycle", "count"),
          ("spark.shuffle_write_bytes_per_cycle", "bytes"), ("index.indexed_docs", "count")]
    for q in CORPUS_QUERIES:
        m += [(f"{q}.construct_s", "s"), (f"{q}.execute_s", "s"),
              (f"{q}.jobs", "count"), (f"{q}.shuffle_bytes", "bytes")]
    m += [("analytics.construct_s", "s"), ("analytics.execute_s", "s"),
          ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"), ("spark.spill_bytes", "bytes")]
    for leg in STREAM_LEGS:
        m += [(f"stream.{leg}.rows_per_s", "rows/s"), (f"stream.{leg}.batch_ms_p50", "ms"),
              (f"stream.{leg}.state_rows", "count"), (f"stream.{leg}.state_commit_ms", "ms"),
              (f"stream.{leg}.state_mem_bytes", "bytes")]
    m += [("stream.batch_ms_p50", "ms"), ("stream.batch_ms_p90", "ms"), ("jvm.heap_peak_mb", "MB")]
    return [dict(name=n, unit=u, better="higher" if u == "rows/s" else "lower") for n, u in m]


PER_LAYER = _per_layer()


def manifest():
    """The content of BENCHMARK.json, derived from the definitions above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": END_TO_END,
        "per_layer": PER_LAYER,
    }


# -------------------------------------------------------------- statistics

def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p, min_beyond=10):
    """Nearest-rank percentile. Refuses unless at least `min_beyond`
    samples lie strictly above the reported rank, so a tail figure is
    never a single outlier."""
    s = sorted(xs)
    n = len(s)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(f"p{p} of {n} samples leaves {n - rank} beyond it, need {min_beyond}")
    return s[rank - 1]


# ------------------------------------------------------------------ output

def emit(correct, attempted, failed, metrics):
    """The result line: `metrics` maps name -> (value, unit)."""
    if not isinstance(attempted, int) or not isinstance(failed, int) or attempted < 1 or failed < 0:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in sorted(metrics.items()):
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        v = float(value)
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"non-finite value for {name}")
        out[name] = {"value": v, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": out}, separators=(",", ":"))


def select_metrics(measured, trace):
    """Every end-to-end metric (trace 0) or every per-layer metric
    (trace 1). A per-layer metric whose layer does no work in this
    workload reads 0; an end-to-end metric must be measured."""
    if trace:
        return {m["name"]: (measured[m["name"]][0] if m["name"] in measured else 0.0, m["unit"])
                for m in PER_LAYER}
    missing = [m["name"] for m in END_TO_END if m["name"] not in measured]
    if missing:
        raise ValueError(f"end-to-end metrics not measured: {missing}")
    return {m["name"]: (measured[m["name"]][0], m["unit"]) for m in END_TO_END}


# -------------------------------------------------------------- generators

def crawl_plan(seed, hosts, pages):
    """Page texts of one crawl corpus, a pure function of `seed` (a
    number or a string).

    Page 0 of each host links pages 1..pages-1. The seed picks which of
    those page numbers serve byte-identical content on every host
    (mirrored mass, indexed once through the digest ledger) and draws
    the token salad of every page. Titles and bodies are salad drawn
    from a billion-word vocabulary, so distinct pages share no token
    (the link text of page 0 names no token of another page), no two
    are near-duplicates, and the band ledger suppresses nothing: the
    index holds every page 0, every unique page, and each shared page
    once."""
    rnd = random.Random(f"crawl/{seed}")
    others = list(range(1, pages))
    shared = set(rnd.sample(others, len(others) // 2))

    def salad(n):
        return " ".join(f"w{rnd.randrange(1_000_000_000)}" for _ in range(n))

    def page(body_tokens, extra=""):
        return (f"<html><head><title>{salad(2)}</title></head>"
                f"<body>{salad(body_tokens)}{extra}</body></html>")

    shared_body = {p: page(30) for p in sorted(shared)}
    links = "".join(f'\n<a href="p{p}.html">p{p}</a>' for p in others)
    site = {}
    for h in range(hosts):
        site[(h, 0)] = page(30, links)
        for p in others:
            site[(h, p)] = shared_body[p] if p in shared else page(30)
    unique = len(others) - len(shared)
    # CrawlLoopBench's expected_max_indexed (seeds + per-host unique pages
    # + shared pages), reached exactly because nothing is a near-duplicate
    return dict(pages=site, shared=sorted(shared),
                expected_indexed=hosts * (1 + unique) + len(shared))


def crawl_plan_seed(seed, name):
    """Generator seed of the corpus `name` of a run seeded with `seed`:
    the cold corpus is the same in the traced and the untraced run."""
    return seed if name == "cold" else f"{seed}/{name}"


def write_crawl_corpus(plan, hosts, root):
    """Write the plan under `root`; returns the seed urls (every page,
    host by host). Each host gets its own authority so politeness sees
    distinct hosts; the file protocol resolves by path."""
    seeds = []
    for h in range(hosts):
        os.makedirs(os.path.join(root, "corpus", f"host{h}"), exist_ok=True)
    for (h, p), body in sorted(plan["pages"].items()):
        d = os.path.join(root, "corpus", f"host{h}")
        with open(os.path.join(d, f"p{p}.html"), "w") as f:
            f.write(body)
        seeds.append(f"file://host{h}.example.com{d}/p{p}.html")
    with open(os.path.join(root, "seeds.txt"), "w") as f:
        f.write("\n".join(seeds) + "\n")
    return seeds


def stream_key_offset(seed):
    """Offset added to the rate source's values before keys are formed."""
    return random.Random(f"stream/{seed}").randrange(1, 1_000_000_000)


# ------------------------------------------------------------------ checks

# Row count and order-insensitive hash per query, recorded from runs of
# this engine on the shipped sf0.01 tables, whose outputs pass
# tools/check_oracle.py at that scale.
CORPUS_RECORDED = {
    "q02": {"rows": 60, "hash": "103cc01295e9a72e"},
    "q50": {"rows": 21, "hash": "3fd241e0eac5f00d"},
    "q22": {"rows": 20, "hash": "2e6588565fe5b0f1"},
    "q53": {"rows": 38, "hash": "5b6762b882f81c87"},
    "q90": {"rows": 5, "hash": "133e81cb8bd6a83c"},
    "q49": {"rows": 20, "hash": "4bf4d4b2e149c6ea"},
}

# Final state-store rows per leg after the 36 batches of STREAM. They do
# not depend on the key offset (it only relabels keys), only on the
# sizes. Windowed counts keep 5 statuses per 10 s window not yet behind
# the watermark (two windows after 36 batches); every url of the 60 000
# recurs within the 10 s watermark; every url of the 30 000 stays inside
# the 60 s TTL.
STREAM_RECORDED = {"windowed_counts": 10, "watermark_dedup": 60000, "ttl_dedup": 30000}


def check_crawl(raw, hosts, pages, plans):
    """Every corpus of `plans` (name -> plan) crawled in full, without
    a failure, into an index of exactly the expected size."""
    errs = []
    if sorted(raw["crawls"]) != sorted(plans):
        return [f"crawled corpora {sorted(raw['crawls'])}, expected {sorted(plans)}"]
    for name, plan in sorted(plans.items()):
        crawl = raw["crawls"][name]
        fetched = sum(c["fetched"] for c in crawl["cycles"])
        failed = sum(c["failed"] for c in crawl["cycles"])
        if fetched != hosts * pages:
            errs.append(f"{name}: fetched {fetched} pages, expected {hosts * pages}")
        if failed:
            errs.append(f"{name}: {failed} fetches failed")
        if crawl["indexed_docs"] != plan["expected_indexed"]:
            errs.append(f"{name}: indexed {crawl['indexed_docs']} docs, "
                        f"expected {plan['expected_indexed']}")
    return errs


def check_corpus(raw, recorded):
    errs = []
    for q, got in sorted(raw["check"].items()):
        want = recorded.get(q)
        if want is None:
            errs.append(f"{q}: rows={got['rows']} hash={got['hash']}, nothing recorded")
        elif (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
            errs.append(f"{q}: rows={got['rows']} hash={got['hash']}, "
                        f"recorded rows={want['rows']} hash={want['hash']}")
    return errs


def check_stream(raw, rows_per_batch, batches, recorded):
    errs = []
    for leg in STREAM_LEGS:
        bs = raw["legs"][leg]["batches"]
        if len(bs) != batches:
            errs.append(f"{leg}: {len(bs)} batches, expected {batches}")
            continue
        rows = sum(b["input_rows"] for b in bs)
        if rows != batches * rows_per_batch:
            errs.append(f"{leg}: {rows} input rows, expected {batches * rows_per_batch}")
        want = recorded.get(leg)
        if want is None or bs[-1]["state_rows"] != want:
            errs.append(f"{leg}: final state rows {bs[-1]['state_rows']}, recorded {want}")
    return errs


# ----------------------------------------------------------------- metrics

def _pages_per_s(cycles):
    return sum(c["fetched"] for c in cycles) / sum(c["wall_s"] for c in cycles)


def crawl_metrics(raw):
    """End to end from the cold corpus; the per-layer figures from the
    warm plain and traced corpora of the traced run."""
    crawls = raw["crawls"]
    cold = crawls["cold"]
    m = {"items_per_s": (_pages_per_s(cold["cycles"]), "items/s"),
         "frontier.seed_s": (cold["seed_s"], "s"),
         "index.indexed_docs": (cold["indexed_docs"], "count")}
    if "plain" not in crawls:
        return m
    plain, traced = crawls["plain"]["cycles"], crawls["traced"]["cycles"]
    n, k = len(plain), len(traced)
    m["streaming.warmup_s"] = (sum(c["wall_s"] for c in cold["cycles"])
                               - sum(c["wall_s"] for c in plain), "s")
    m["spark.jobs_per_cycle"] = (sum(c["spark"]["jobs"] for c in plain) / n, "count")
    m["spark.tasks_per_cycle"] = (sum(c["spark"]["tasks"] for c in plain) / n, "count")
    m["spark.shuffle_write_bytes_per_cycle"] = (
        sum(c["spark"]["shuffle_write_bytes"] for c in plain) / n, "bytes")
    for leg, name in CRAWL_LEGS:
        m[name] = (sum(c["legs"].get(leg, 0.0) for c in traced) / k, "s")
    m["fetch.politeness_floor_s"] = (sum(c["politeness_floor_s"] for c in traced) / k, "s")
    m["streaming.unattributed_s"] = (
        sum(c["wall_s"] - sum(c["legs"].values()) for c in traced) / k, "s")
    m["trace_overhead_ratio"] = (1.0 - _pages_per_s(traced) / _pages_per_s(plain), "ratio")
    return m


def corpus_metrics(raw):
    """Queries per second of a pass made of each query's median wall
    time over the timed passes, so one slow pass does not move it."""
    passes = raw["passes"]
    m = {}
    wall = 0.0
    for q in CORPUS_QUERIES:
        qs = [p["queries"][q] for p in passes]
        wall += median([x["construct_s"] + x["execute_s"] for x in qs])
        m[f"{q}.construct_s"] = (median([x["construct_s"] for x in qs]), "s")
        m[f"{q}.execute_s"] = (median([x["execute_s"] for x in qs]), "s")
        m[f"{q}.jobs"] = (median([x["spark"]["jobs"] for x in qs]), "count")
        m[f"{q}.shuffle_bytes"] = (median([x["spark"]["shuffle_write_bytes"] for x in qs]), "bytes")
    m["items_per_s"] = (len(CORPUS_QUERIES) / wall, "items/s")
    m["analytics.construct_s"] = (sum(m[f"{q}.construct_s"][0] for q in CORPUS_QUERIES), "s")
    m["analytics.execute_s"] = (sum(m[f"{q}.execute_s"][0] for q in CORPUS_QUERIES), "s")
    m["spark.tasks"] = (median([p["spark"]["tasks"] for p in passes]), "count")
    m["spark.executor_cpu_s"] = (median([p["spark"]["executor_cpu_s"] for p in passes]), "s")
    m["spark.spill_bytes"] = (median([p["spark"]["spill_bytes"] for p in passes]), "bytes")
    return m


def stream_metrics(raw):
    """Per-leg and pooled figures of the status stream legs."""
    m = {}
    pooled_ms = []
    for leg in STREAM_LEGS:
        timed = [b for b in raw["legs"][leg]["batches"] if b["timed"]]
        ms = [b["trigger_ms"] for b in timed]
        leg_rows = sum(b["input_rows"] for b in timed)
        pooled_ms += ms
        m[f"stream.{leg}.rows_per_s"] = (leg_rows / (sum(ms) / 1000.0), "rows/s")
        m[f"stream.{leg}.batch_ms_p50"] = (percentile(ms, 50), "ms")
        m[f"stream.{leg}.state_rows"] = (timed[-1]["state_rows"], "count")
        m[f"stream.{leg}.state_commit_ms"] = (median([b["state_commit_ms"] for b in timed]), "ms")
        m[f"stream.{leg}.state_mem_bytes"] = (timed[-1]["state_mem_bytes"], "bytes")
    m["stream.batch_ms_p50"] = (percentile(pooled_ms, 50), "ms")
    m["stream.batch_ms_p90"] = (percentile(pooled_ms, 90), "ms")
    return m
