#!/usr/bin/env python3
"""Split a JFR recording's CPU samples by engine call and operator.

Usage: python3 tools/jfr_ops.py <recording.jfr> <from_s> <to_s>

Reads `jfr print --json` of the recording's `jdk.ExecutionSample`
events (streamed, one event at a time: every frame carries its class
loader, so the JSON is large) and
keeps the samples taken between <from_s> and <to_s> seconds after the
recording's start (as `jfr summary` prints it, to the second; a
recording started with the JVM starts with it). Prints two tables:

  - driver-thread (`main`) samples per engine call -- `createViews`,
    `syncFrom`, a `readObserved` read, `prune` -- each split by Spark
    phase: parse, analysis, optimizer, planning, AQE, listing;
  - executor-thread samples per operator family: JSON, Parquet read,
    Parquet write, shuffle write, sort, window, codegen.

A sample belongs to the outermost engine call on its stack, and to the
innermost phase or operator frame (a file listing inside analysis
counts as listing; a view's text parsed inside analysis as parse).

Record with a deep stack, or the calls near the bottom of a Spark stack
are cut off (JFR keeps 64 frames by default):

  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile \
    -XX:FlightRecorderOptions=stackdepth=1024" python3 perfbench/run.py ...
"""
import collections
import datetime
import json
import subprocess
import sys

# (label, frame prefix "class.method" or "class."), matched in order
CALLS = [
    ("createViews", "graft.pipeline.SyncPipeline.createViews"),
    ("syncFrom", "graft.pipeline.SyncPipeline.syncFrom"),
    ("syncOnce", "graft.pipeline.SyncPipeline.syncOnce"),
    ("read", "perfbench.Harness.readObserved"),
    ("prune", "graft.pipeline.SyncPipeline.prune"),
]
PHASES = [
    ("listing", ("org.apache.spark.sql.execution.datasources.InMemoryFileIndex",
                 "org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex",
                 "org.apache.spark.util.HadoopFSUtils")),
    ("parse", ("org.apache.spark.sql.catalyst.parser.",
               "org.apache.spark.sql.execution.SparkSqlParser")),
    ("AQE", ("org.apache.spark.sql.execution.adaptive.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("planning", ("org.apache.spark.sql.execution.SparkStrategies",
                  "org.apache.spark.sql.execution.SparkPlanner",
                  "org.apache.spark.sql.catalyst.planning.")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",
                  "org.apache.spark.sql.execution.datasources.DataSource.resolveRelation")),
]
OPERATORS = [
    ("JSON", ("org.apache.spark.sql.catalyst.json.", "com.fasterxml.jackson.")),
    ("Parquet write", ("org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.hadoop.ParquetFileWriter",
                       "org.apache.parquet.column.impl.ColumnWriter",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport")),
    ("Parquet read", ("org.apache.parquet.",
                      "org.apache.spark.sql.execution.datasources.parquet.")),
    ("shuffle write", ("org.apache.spark.shuffle.",)),
    ("sort", ("org.apache.spark.util.collection.unsafe.sort.",
              "org.apache.spark.sql.execution.UnsafeExternalRowSorter",
              "org.apache.spark.sql.execution.SortExec")),
    ("window", ("org.apache.spark.sql.execution.window.",)),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.codehaus.janino.", "org.codehaus.commons.compiler.")),
]


def events(path):
    """Each jdk.ExecutionSample event of `path`, decoded one at a time
    from the streamed `jfr print --json` output."""
    p = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "1024",
         "--events", "jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf, eof = "", False

    def fill():
        nonlocal buf, eof
        more = p.stdout.read(1 << 20)
        eof = not more
        buf += more

    key = '"events": ['
    while key not in buf and not eof:
        fill()
    if key in buf:
        buf = buf[buf.index(key) + len(key):]
        while True:
            buf = buf.lstrip(" \t\r\n,")
            if not buf and not eof:
                fill()
                continue
            if not buf or buf.startswith("]"):
                break
            try:
                ev, end = dec.raw_decode(buf)
            except json.JSONDecodeError:
                if eof:
                    raise
                fill()
                continue
            buf = buf[end:]
            yield ev["values"]
    p.stdout.close()
    if p.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def start(path):
    """The recording's start, from `jfr summary`, as epoch seconds."""
    out = subprocess.run(["jfr", "summary", path], capture_output=True,
                         text=True, check=True).stdout
    line = next(l for l in out.splitlines() if l.strip().startswith("Start:"))
    stamp = line.split("Start:")[1].split("(")[0].strip()
    return datetime.datetime.strptime(stamp, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def seconds(ts):
    """ISO-8601 startTime (nanosecond digits, 'Z') as epoch seconds."""
    date, frac = ts.rstrip("Z").split(".") if "." in ts else (ts.rstrip("Z"), "0")
    base = datetime.datetime.fromisoformat(date).replace(
        tzinfo=datetime.timezone.utc).timestamp()
    return base + float("0." + frac)


def frames(values):
    """The sample's frames as 'package.Class.method', innermost first."""
    out = []
    for f in (values.get("stackTrace") or {}).get("frames", []):
        m = f["method"]
        out.append(m["type"]["name"].replace("\\/", "/").replace("/", ".")
                   + "." + m["name"])
    return out


def first(names, table):
    """The label of the first frame in `names` that matches `table`."""
    for n in names:
        for label, prefixes in table:
            if n.startswith(prefixes):
                return label
    return "other"


def table(title, counts, total, cols=None):
    print(title)
    if not counts:
        print("  (no samples)\n")
        return
    if cols is None:
        for label, n in counts.most_common():
            print(f"  {label:<16} {n:7d}  {100.0 * n / total:5.1f} %")
    else:
        head = "  " + f"{'call':<14}{'total':>7}" + "".join(f"{c:>10}" for c in cols)
        print(head)
        for call, by in sorted(counts.items(), key=lambda kv: -sum(kv[1].values())):
            row = f"  {call:<14}{sum(by.values()):7d}" + "".join(
                f"{by.get(c, 0):10d}" for c in cols)
            print(row)
    print(f"  {total} samples\n")


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__.split("\n\n")[1])
    path, lo, hi = sys.argv[1], float(sys.argv[2]), float(sys.argv[3])
    t0 = start(path)
    driver = collections.defaultdict(collections.Counter)
    ops = collections.Counter()
    for v in events(path):
        if not lo <= seconds(v["startTime"]) - t0 <= hi:
            continue
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        names = frames(v)
        if thread == "main":
            call = first(reversed(names), [(l, (p,)) for l, p in CALLS])
            driver[call][first(names, PHASES)] += 1
        elif thread.startswith("Executor task launch worker"):
            ops[first(names, OPERATORS)] += 1
    cols = [l for l, _ in PHASES] + ["other"]
    table(f"driver-thread samples, {lo:g}-{hi:g} s: engine call x Spark phase",
          driver, sum(sum(c.values()) for c in driver.values()), cols)
    table(f"executor samples, {lo:g}-{hi:g} s: operator family",
          ops, sum(ops.values()))


if __name__ == "__main__":
    main()
