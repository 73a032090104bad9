#!/usr/bin/env python3
"""Attribute a JVM driver thread's CPU samples to where Spark spends
driver time: plan strings, analysis, cache lookup, file listing, other.

Input is a JFR recording (or its JSON dump). The stacks must be deep
twice over. The recorder keeps 64 frames unless told otherwise, and
Spark's driver stacks run deeper, so record with

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=2048 \
      -XX:StartFlightRecording=filename=rec.jfr,settings=profile"

and `jfr print` keeps 5 frames by default, which hides every caller, so
a .jfr file is printed here with `--stack-depth 1000`:

    jfr print --events jdk.ExecutionSample --stack-depth 1000 --json rec.jfr

Usage:
    python3 tools/jfr_driver.py rec.jfr [--thread main]
        [--from ISO|EPOCH_S] [--to ISO|EPOCH_S] [--under FRAME] [--json]

`--from`/`--to` keep samples inside a time window; `--under` keeps
samples whose stack holds a frame containing FRAME (for example
`CrawlTopology$.crawlOnce`). A sample counts once, in the first
category (in the order below) that one of its frames matches.
"""
import argparse
import datetime as dt
import json
import subprocess
import sys
from collections import Counter

# (category, predicate on "package.Class.method") in priority order:
# rendering a plan can sit under analysis or a cache lookup, so it is
# tested first; a listing runs inside the analysis of a file read.
CATEGORIES = [
    ("plan strings", lambda f: any(m in f for m in (
        ".explainString", ".treeString", ".generateTreeString",
        ".simpleString", ".verboseString", "ExplainUtils."))),
    ("file listing", lambda f: any(m in f for m in (
        "InMemoryFileIndex", "HadoopFSUtils", "PartitioningAwareFileIndex",
        ".listLeafFiles"))),
    ("cache lookup", lambda f: "execution.CacheManager." in f),
    ("analysis", lambda f: "catalyst.analysis." in f
        or "QueryExecution.assertAnalyzed" in f
        or "QueryExecution.analyzed" in f),
]
OTHER = "other"


def load(path):
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--events", "jdk.ExecutionSample",
             "--stack-depth", "1000", "--json", path],
            check=True, capture_output=True, text=True).stdout
        return json.loads(out)
    with open(path) as f:
        return json.load(f)


def parse_time(s):
    """Epoch seconds from an ISO-8601 instant or a number."""
    try:
        return float(s)
    except ValueError:
        iso = s.replace("Z", "+00:00")
        # fractions beyond microseconds are not accepted by fromisoformat
        if "." in iso:
            head, tail = iso.split(".", 1)
            digits = "".join(c for c in tail if c.isdigit())
            zone = tail[len(digits):]
            iso = f"{head}.{digits[:6].ljust(6, '0')}{zone}"
        t = dt.datetime.fromisoformat(iso)
        if t.tzinfo is None:
            t = t.replace(tzinfo=dt.timezone.utc)
        return t.timestamp()


def frames(event):
    trace = event["values"].get("stackTrace") or {}
    for fr in trace.get("frames", []):
        m = fr.get("method") or {}
        cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
        yield f"{cls}.{m.get('name', '?')}"


def category(stack):
    for name, match in CATEGORIES:
        if any(match(f) for f in stack):
            return name
    return OTHER


def attribute(doc, thread="main", start=None, end=None, under=None):
    """Sample counts per category for one thread, optionally windowed."""
    counts = Counter()
    for ev in doc["recording"]["events"]:
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        v = ev["values"]
        th = v.get("sampledThread") or {}
        if thread not in (th.get("javaName"), th.get("osName")):
            continue
        t = parse_time(v["startTime"])
        if (start is not None and t < start) or (end is not None and t > end):
            continue
        stack = list(frames(ev))
        if under is not None and not any(under in f for f in stack):
            continue
        counts[category(stack)] += 1
    return counts


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help=".jfr file or its `jfr print --json` dump")
    ap.add_argument("--thread", default="main")
    ap.add_argument("--from", dest="start", type=parse_time)
    ap.add_argument("--to", dest="end", type=parse_time)
    ap.add_argument("--under", help="keep samples with a frame containing this")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    a = ap.parse_args(argv)
    counts = attribute(load(a.recording), a.thread, a.start, a.end, a.under)
    order = [c for c, _ in CATEGORIES] + [OTHER]
    total = sum(counts.values())
    if a.json:
        print(json.dumps({"total": total, **{c: counts[c] for c in order}}))
        return 0
    print(f"{'category':<14} {'samples':>8} {'share':>7}")
    for c in order:
        share = counts[c] / total if total else 0.0
        print(f"{c:<14} {counts[c]:>8} {share:>7.1%}")
    print(f"{'total':<14} {total:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
