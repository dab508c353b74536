"""Arithmetic of the benchmark: percentiles, span self time, the
order-insensitive result comparison, the file -> micro-batch latency
mapping and the DuckDB output check. Kept free of process handling so that
`python3 -m unittest discover perfbench/tests` covers it directly."""
import datetime
import decimal
import json
import math
import os
import statistics
import sys


def median(values):
    return statistics.median(values)


def tail(values, p, beyond=10):
    """The p-th percentile (nearest rank), lowered to the highest
    percentile that still has `beyond` samples above it.

    Returns (value, effective percentile, sample count). When the
    samples support no tail above the median, the upper median is
    returned, so the tail never reads below the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = max(min(math.ceil(p * n), n - beyond), n // 2 + 1)
    return xs[k - 1], k / n, n


def gmean(values):
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def kind_summary(kinds, p):
    """Per operation kind: median, tail (see `tail`), its effective
    percentile and the sample count. Aggregating kinds only after this
    keeps a pooled order statistic from jumping between kinds whose
    latencies differ by design."""
    out = {}
    for k, xs in sorted(kinds.items()):
        v, q, n = tail(xs, p)
        out[k] = {"p50": median(xs), "tail": v, "tail_percentile": q, "n": n}
    return out


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_s is None or a > cur_e:
                if cur_s is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_s is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (hi - lo) - covered
    return out


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def trigger_spans(progress, spans):
    """Spans for streaming micro-batches, each placed under the benchmark
    span (query function or app action) of the same name that was open
    when the trigger started; its phase durations ride along as
    attributes. A trigger ends when its progress event arrives."""
    owners = [s for s in spans if s["kind"] in ("call", "action")]
    next_id = max([s["id"] for s in spans] or [0]) + 1
    out = []
    for e in progress:
        end = e["recv_ms"]
        start = end - e["durations"].get("triggerExecution", 0)
        parent = [s for s in owners
                  if s["name"] == e["query"] and s["start_ms"] <= start <= s["end_ms"]]
        span = {"id": next_id, "parent": parent[-1]["id"] if parent else 0, "kind": "trigger",
                "name": f"{e['query']} batch {e['batch']}", "start_ms": start, "end_ms": end,
                "input_rows": e["input_rows"]}
        span.update({f"{p}_ms": e["durations"].get(p, 0) for p in PHASES})
        out.append(span)
        next_id += 1
    return out


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def _dtype_class(t):
    """The type classes the repository's oracle check tells apart
    (`dev/check_oracle.py`): int widths fold, int and float do not."""
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "dev")
    if root not in sys.path:
        sys.path.insert(0, root)
    import check_oracle
    return check_oracle.dtype_class(t)


def canonical_rows(table):
    """An arrow table as (header, rows), insensitive to row order and to
    column order: columns in name order with their type class, each row
    a canonical string, the rows sorted. Two results are equal when
    these are."""
    cols = sorted(table.column_names)
    t = table.select(cols)
    header = [(c, _dtype_class(t.schema.field(c).type)) for c in cols]
    rows = sorted("\x1f".join(_canon(v) for v in r.values()) for r in t.to_pylist())
    return header, rows


def check_outputs(data_dir, out_dir, oracle_sql, names):
    """Compare each named query's persisted result with its DuckDB
    oracle over the same generated tables. Returns {name: error or ""}."""
    import duckdb
    import pyarrow as pa
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    errors = {}
    for name in names:
        try:
            sql = oracle_sql.get(name, "")
            if not sql:
                errors[name] = "no oracle SQL"
                continue
            want = con.execute(sql).fetch_arrow_table()
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table()
            nested = [f.name for t in (want, got) for f in t.schema if pa.types.is_nested(f.type)]
            if nested:
                errors[name] = f"non-scalar columns {sorted(set(nested))}"
                continue
            (wh, wr), (gh, gr) = canonical_rows(want), canonical_rows(got)
            if wh != gh:
                errors[name] = f"columns {gh} != {wh}"
            elif len(wr) != len(gr):
                errors[name] = f"{len(gr)} rows, expected {len(wr)}"
            elif wr != gr:
                i = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
                errors[name] = f"sorted row {i} is {gr[i]!r}, expected {wr[i]!r}"
            else:
                errors[name] = ""
        except Exception as e:  # a broken oracle or unreadable output is a failed check
            errors[name] = f"check failed: {e}"
    return errors


def file_batches(source_log_dir):
    """File basename -> micro-batch id, from a file source's checkpoint
    log (`<checkpoint>/sources/0`): one file per batch, or a `.compact`
    file holding every entry up to it; each is `v1` then JSON lines."""
    out = {}
    for f in sorted(os.listdir(source_log_dir)):
        stem = f[:-len(".compact")] if f.endswith(".compact") else f
        if not stem.isdigit():
            continue
        with open(os.path.join(source_log_dir, f)) as fh:
            lines = fh.read().splitlines()
        if not lines or lines[0] != "v1":
            raise ValueError(f"unexpected source log format in {f}")
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[e["path"].rstrip("/").rsplit("/", 1)[-1]] = e["batchId"]
    return out


def event_latencies(schedule, batches, progress_ms):
    """Latency of each generated file: from when it was due to the
    progress event of the micro-batch that read it. Files never read are
    returned separately."""
    lat, unread = [], []
    for s in schedule:
        b = batches.get(s["file"])
        if b is None or b not in progress_ms:
            unread.append(s["file"])
        else:
            lat.append(progress_ms[b] - s["due_ms"])
    return lat, unread
