#!/usr/bin/env python3
"""Split a JFR recording's CPU samples into the CDC replay path's layers.

Usage:
    python3 tools/jfr_layers.py RECORDING.jfr [--thread PREFIX] [--top N]

Runs `jfr print --json --stack-depth 128 --events jdk.ExecutionSample`
on the recording, keeps the samples of threads whose name starts with
PREFIX (default: Spark's executor task threads), and prints each layer's
share of them. A sample belongs to the layer of the first frame, walking
from the top of the stack, that matches one of the layer patterns below;
JDK frames match nothing, so `Double.toString` under the decoder counts
as decode and `LocalDateTime.parse` under `SqlTypes.cast` as cast.
Samples with no matching frame count as "other". `--top N` also lists
the N most frequent matching frames of each layer.

Without `--stack-depth`, `jfr print` keeps only the top 5 frames of each
stack, which hides the caller of nearly every JDK leaf.

Record a benchmark run without changing code, for example:
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \
        python3 perfbench/run.py --workload cdc_backfill --seed 12 --seconds 8 --trace 0

Standard library only. The JSON is parsed one event at a time, so the
several hundred MB that `jfr print` writes for a minute's recording are
never held at once.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

# (layer, frame prefixes); a frame is "package.Class.method", and the
# first layer listing a prefix of it wins
LAYERS = [
    # the byte-level scan and its decoders; Jackson only parses the lines
    # the scan declines (the tree path), and counts here too
    ("decode", (
        "graft.sources.cdc.CdcLineScanner",
        "graft.sources.cdc.CdcRowDecoder",
        "com.fasterxml.jackson.",
        "graft.sources.cdc.CdcClient.decodeRow",
        "graft.sources.cdc.CdcClient$.scalarToString",
        "graft.sources.cdc.CdcClient$.doubleText",
    )),
    ("cast", (
        "graft.sources.cdc.SqlTypes",
    )),
    # finding line ends, and the socket reads under them
    ("framing", (
        "graft.sources.cdc.CdcClient.readLineSlice",
        "graft.sources.cdc.CdcClient$.newline",
        "graft.sources.cdc.CdcClient.ensureRoom",
    )),
    ("reader", (
        "graft.sources.cdc.",
        "org.apache.spark.sql.execution.datasources.v2.",
    )),
    ("shuffle", (
        "org.apache.spark.shuffle.",
        "org.apache.spark.util.collection.",
        "org.apache.spark.storage.",
        "org.apache.spark.io.",
        "org.apache.spark.serializer.",
        "net.jpountz.",
        "com.github.luben.zstd.",
        "org.xerial.snappy.",
    )),
    ("spark", (
        "org.apache.spark.sql.catalyst.expressions.GeneratedClass",
        "org.apache.spark.sql.execution.",
        "org.apache.spark.unsafe.map.",
        "org.apache.spark.sql.catalyst.",
    )),
]
ORDER = [name for name, _ in LAYERS] + ["other"]

SKIP = re.compile(r"[\s,]*")


def events(stream, chunk=1 << 20):
    """Yield the objects of the top-level "events" array, one at a time."""
    dec = json.JSONDecoder()
    buf = ""
    while True:
        at = buf.find('"events"')
        if at >= 0 and buf.find("[", at) >= 0:
            pos = buf.index("[", at) + 1
            break
        more = stream.read(chunk)
        if not more:
            return
        buf += more
    while True:
        pos = SKIP.match(buf, pos).end()
        if buf.startswith("]", pos):
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            more = stream.read(chunk)
            if not more:
                if buf[pos:].strip():
                    raise
                return
            buf = buf[pos:] + more
            pos = 0
            continue
        yield obj
        pos = end


def frame_name(frame):
    method = frame.get("method") or {}
    owner = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{owner}.{method.get('name', '?')}"


def layer_of(names):
    for name in names:
        for layer, prefixes in LAYERS:
            if name.startswith(prefixes):
                return layer, name
    return "other", names[0] if names else "?"


def split(stream, thread):
    counts = collections.Counter()
    tops = collections.defaultdict(collections.Counter)
    for ev in events(stream):
        values = ev.get("values") or {}
        name = (values.get("sampledThread") or {}).get("javaName") or ""
        if not name.startswith(thread):
            continue
        frames = (values.get("stackTrace") or {}).get("frames") or []
        layer, frame = layer_of([frame_name(f) for f in frames])
        counts[layer] += 1
        tops[layer][frame] += 1
    return counts, tops


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="Executor task launch worker",
                    help="keep samples of threads whose name starts with this")
    ap.add_argument("--top", type=int, default=0,
                    help="also list the N most frequent frames of each layer")
    args = ap.parse_args()
    cmd = ["jfr", "print", "--json", "--stack-depth", "128",
           "--events", "jdk.ExecutionSample", args.recording]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    counts, tops = split(proc.stdout, args.thread)
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")
    total = sum(counts.values())
    print(f"{total} samples on threads '{args.thread}*'")
    if total == 0:
        return
    for layer in ORDER:
        n = counts.get(layer, 0)
        print(f"  {layer:8s} {n:7d}  {100.0 * n / total:5.1f}%")
        for frame, k in tops[layer].most_common(args.top):
            print(f"      {100.0 * k / total:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
