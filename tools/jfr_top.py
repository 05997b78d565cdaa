#!/usr/bin/env python3
"""Summarise JFR execution samples: where the threads of a Spark JVM spend
their CPU, and how much of it goes to code generation.

Input is the JSON that the JDK's `jfr` tool prints for execution samples:

    jfr print --json --stack-depth 64 --events jdk.ExecutionSample g.jfr > g.json
    python3 tools/jfr_top.py g.json [--skip 0.5] [--window START:END]
        [--top 12] [--threads 6]

`--window START:END` keeps the samples taken from START to END seconds after
the first sample (either bound may be left out), so one execution, such as
the cold first one, can be read alone. The leading `--skip` share of the
samples kept is then dropped (default 0.5 without a window, 0 with one), so
a recording that covers JVM start, Spark warm-up and the first executions
can be read for its warm tail only. It prints samples per thread (numbered
threads folded into one name: every task thread is one "Executor task launch
worker"), each thread's top self and inclusive frames, and fixed buckets:
Janino compile, code generation (Janino included), closure cleaning,
analyzer, optimizer, call-site capture and task (de)serialization, each over
all threads, the `main` thread (which plans and submits the jobs) and the
executor task threads.
A sample counts in a bucket when any frame of its stack matches.

The file is read as a stream of events, so recordings of a few hundred MB
of JSON do not have to fit in memory as one document. Stdlib only.
"""
import argparse
import collections
import json
import re
import sys

JANINO = ("org.codehaus.janino.", "org.codehaus.commons.compiler.")
BUCKETS = [
    ("janino compile", lambda c, m: c.startswith(JANINO)),
    ("code generation", lambda c, m: c.startswith(JANINO)
        or ".expressions.codegen." in c
        or (c.endswith("WholeStageCodegenExec") and m == "doCodeGen")),
    ("closure cleaning", lambda c, m: c.startswith("org.apache.spark.util.")
        and "ClosureCleaner" in c),
    ("analyzer", lambda c, m: c.startswith("org.apache.spark.sql.catalyst.analysis.")),
    ("optimizer", lambda c, m: c.startswith("org.apache.spark.sql.catalyst.optimizer.")),
    ("call-site capture", lambda c, m: c.startswith("org.apache.spark.util.Utils")
        and m == "getCallSite"),
    ("task (de)serialization", lambda c, m: c.startswith(
        ("java.io.ObjectInputStream", "java.io.ObjectOutputStream"))),
]

_TIME = re.compile(r"(\d+)-(\d+)-(\d+)T(\d+):(\d+):(\d+)(?:\.(\d+))?")


def sample_time(s):
    """Seconds (any fixed origin) of a JFR timestamp string."""
    m = _TIME.match(s or "")
    if not m:
        return 0.0
    y, mo, d, h, mi, sec, frac = m.groups()
    days = (int(y) * 12 + int(mo)) * 31 + int(d)
    return (((days * 24 + int(h)) * 60 + int(mi)) * 60 + int(sec)
            + float("0." + (frac or "0")))


def thread_name(t):
    name = (t or {}).get("javaName") or (t or {}).get("osName") or "?"
    name = re.sub(r" for task .*$", "", name)
    return re.sub(r"\d+", "#", name)


def frame_name(f):
    method = f.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return sys.intern(cls), sys.intern(method.get("name") or "?")


def events(stream, chunk=1 << 20):
    """Yield the objects of the recording's `events` array one at a time."""
    dec = json.JSONDecoder()
    buf = ""
    eof = False

    def fill():
        nonlocal buf, eof
        more = stream.read(chunk)
        eof = not more
        buf += more

    while '"events"' not in buf:
        if eof:
            return
        fill()
    buf = buf[buf.index('"events"'):]
    while "[" not in buf:
        fill()
    pos = buf.index("[") + 1
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos >= len(buf):
            if eof:
                return
            buf, pos = buf[pos:], 0
            fill()
            continue
        if buf[pos] == "]":
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            buf, pos = buf[pos:], 0
            fill()
            continue
        yield obj
        pos = end


def load(path):
    """(time, thread, [(class, method), ...] leaf first) per sample."""
    out = []
    with (sys.stdin if path == "-" else open(path, encoding="utf-8")) as f:
        for ev in events(f):
            if ev.get("type") != "jdk.ExecutionSample":
                continue
            v = ev.get("values") or {}
            frames = [frame_name(fr) for fr in
                      ((v.get("stackTrace") or {}).get("frames") or [])]
            out.append((sample_time(v.get("startTime")),
                        thread_name(v.get("sampledThread")), frames))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="output of jfr print --json (- for stdin)")
    ap.add_argument("--skip", type=float, default=None,
                    help="leading share of samples to drop as warm-up "
                         "(default 0.5, or 0 with --window)")
    ap.add_argument("--window", default=None, metavar="START:END",
                    help="keep only samples START to END seconds after the first one")
    ap.add_argument("--top", type=int, default=12, help="frames listed per thread")
    ap.add_argument("--threads", type=int, default=6, help="threads listed")
    a = ap.parse_args()
    window = None
    if a.window is not None:
        lo, sep, hi = a.window.partition(":")
        try:
            window = (float(lo) if lo else 0.0, float(hi) if hi else float("inf"))
        except ValueError:
            window = None
        if not sep or window is None or window[0] >= window[1]:
            ap.error("--window wants START:END seconds with START < END")
    skip = a.skip if a.skip is not None else (0.0 if window else 0.5)
    if not 0.0 <= skip < 1.0:
        ap.error("--skip must be in [0, 1)")

    samples = sorted(load(a.json), key=lambda s: s[0])
    total = len(samples)
    if window and samples:
        t0 = samples[0][0]
        samples = [s for s in samples if window[0] <= s[0] - t0 < window[1]]
        print(f"window: {window[0]:g} s to {window[1]:g} s after the first sample, "
              f"{len(samples)} samples")
    samples = samples[int(len(samples) * skip):]
    n = len(samples)
    print(f"samples: {total} recorded, {n} kept after skipping the first {skip:.0%}")
    if not n:
        return

    per_thread = collections.Counter(t for _, t, _ in samples)
    print("\nsamples per thread")
    for t, c in per_thread.most_common():
        print(f"  {c:7d}  {c / n:6.1%}  {t}")

    for t, c in per_thread.most_common(a.threads):
        own = [fr for _, th, fr in samples if th == t]
        self_c = collections.Counter(f"{fr[0][0]}.{fr[0][1]}" for fr in own if fr)
        incl_c = collections.Counter()
        for fr in own:
            incl_c.update({f"{cl}.{m}" for cl, m in fr})
        print(f"\n== {t} ({c} samples)")
        print("  self")
        for name, k in self_c.most_common(a.top):
            print(f"    {k:7d}  {k / c:6.1%}  {name}")
        print("  inclusive")
        for name, k in incl_c.most_common(a.top):
            print(f"    {k:7d}  {k / c:6.1%}  {name}")

    groups = [("all", samples), ("main", [s for s in samples if s[1] == "main"]),
              ("executor", [s for s in samples
                            if s[1].startswith("Executor task launch worker")])]
    print("\nbuckets (" + "; ".join(f"{g}: {len(ss)} samples" for g, ss in groups) + ")")
    for label, match in BUCKETS:
        cells = []
        for g, ss in groups:
            k = sum(any(match(cl, m) for cl, m in fr) for _, _, fr in ss)
            cells.append(f"{g} {k:7d} {k / max(len(ss), 1):6.1%}")
        print(f"  {label:22s} " + "   ".join(cells))


if __name__ == "__main__":
    main()
