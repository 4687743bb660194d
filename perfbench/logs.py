"""Seeded muskie-style request-log tree and its pure-Python tally.

The generator follows FIXTURES.md §1: newline-separated JSON laid out
as ``<root>/%Y/%m-%d/<n>.log`` with nested ``req``/``res`` objects, a
``req.caller`` that is a string, JSON null or absent, a string-typed
``latency`` and about 0.1% corrupt (non-JSON) lines. The same seed
writes byte-identical files.

The tally evaluates a query spec over the records the generator wrote,
with the engine's documented semantics (scan.py, buckets.py, krill.py):

* a grouped field reads ``"undefined"`` when absent, ``"null"`` when
  JSON null, else the value as a string (numbers as their literal);
* filters and bucketizers see absent and null alike as no value;
  ``eq`` with a number-like string compares numerically when the field
  parses as a number (``"200"`` matches ``200``);
* ``quantize`` is the power-of-two bucket minimum, ``lquantize`` is
  ``floor(v / step) * step``; a bucketized record without a number is
  dropped;
* date breakdowns floor the ISO time to epoch seconds before
  bucketizing; time bounds are ``[after, before)``;
* corrupt lines are dropped.

A query spec is a plain dict: ``{"breakdowns": "a,b[aggr=quantize]",
"filter": {...}, "after": epoch, "before": epoch, "time_field": name}``,
every key but ``breakdowns`` optional. It is the same spec the
benchmark hands to ``QueryConfig.load``.
"""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter
from datetime import datetime, timezone

HOSTS = ("ralph", "janey", "kearney", "sherri", "wendell")
OPERATIONS = {
    "HEAD": ("headpublicstorage", "headstorage"),
    "GET": ("getjoberrors", "getpublicstorage", "getstorage"),
    "PUT": ("putdirectory", "putjobsobject", "putobject", "putpublicobject"),
    "DELETE": ("deletestorage",),
}
METHODS = tuple(OPERATIONS)
CALLERS = ("admin", "poseidon", None, "<absent>")
STATUS_CODES = (200, 204, 400, 404, 499, 500, 503)
START = datetime(2014, 5, 1, tzinfo=timezone.utc)
START_EPOCH = int(START.timestamp())
DAY = 86400
CORRUPT_RATE = 0.001
TIME_FORMAT = "/%Y/%m-%d"


def _latency(rng: random.Random) -> int:
    """The fixture's mixture: 40% 1-5, 30% 20-30, 10% 100-200, rest
    1024-4096."""
    u = rng.random()
    if u < 0.4:
        return rng.randint(1, 5)
    if u < 0.7:
        return rng.randint(20, 30)
    if u < 0.8:
        return rng.randint(100, 200)
    return rng.randint(1024, 4096)


def _iso(epoch_ms: int) -> str:
    dt = datetime.fromtimestamp(epoch_ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def _record(rng: random.Random, epoch_ms: int) -> dict:
    method = rng.choice(METHODS)
    req = {"method": method, "url": f"/random/url/number/{rng.randrange(500)}"}
    caller = rng.choice(CALLERS)
    if caller != "<absent>":
        req["caller"] = caller
    lat = _latency(rng)
    return {
        "time": _iso(epoch_ms),
        "host": rng.choice(HOSTS),
        "req": req,
        "operation": rng.choice(OPERATIONS[method]),
        "res": {"statusCode": rng.choice(STATUS_CODES)},
        "latency": str(lat),
        "dataLatency": _latency(rng),
        "dataSize": rng.randrange(1 << 30),
    }


def generate(root: str, seed: int, days: int, files_per_day: int,
             records_per_file: int) -> dict:
    """Write the tree under ``root`` and return its manifest: record and
    line counts, bytes and the file list. Each file covers an equal
    slice of its day with linearly increasing times."""
    rng = random.Random(seed)
    files, n_records, n_corrupt, n_bytes = [], 0, 0, 0
    per_day = []
    slice_ms = DAY * 1000 // files_per_day
    for d in range(days):
        day_ms = (START_EPOCH + d * DAY) * 1000
        sub = datetime.fromtimestamp(day_ms / 1000, tz=timezone.utc).strftime(
            "%Y/%m-%d"
        )
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        per_day.append(n_records)
        for f in range(files_per_day):
            t0 = day_ms + f * slice_ms
            lines = []
            for i in range(records_per_file):
                ms = t0 + i * slice_ms // records_per_file
                line = json.dumps(_record(rng, ms), separators=(",", ":"))
                if rng.random() < CORRUPT_RATE:
                    # a record cut mid-object: not JSON, dropped by the parser
                    line = line[: len(line) // 2]
                    n_corrupt += 1
                else:
                    n_records += 1
                lines.append(line)
            rel = f"{sub}/{f}.log"
            data = ("\n".join(lines) + "\n").encode()
            with open(os.path.join(root, rel), "wb") as fh:
                fh.write(data)
            files.append(rel)
            n_bytes += len(data)
        per_day[-1] = n_records - per_day[-1]
    return {
        "seed": seed,
        "days": days,
        "lines": n_records + n_corrupt,
        "records": n_records,
        "records_per_day": per_day,
        "corrupt_lines": n_corrupt,
        "bytes": n_bytes,
        "files": files,
    }


def read_records(root: str, files: list[str]) -> list[dict]:
    """Parse the tree back the way the engine does: blank and corrupt
    lines are dropped."""
    out = []
    for rel in files:
        with open(os.path.join(root, rel)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if isinstance(rec, dict):
                    out.append(rec)
    return out


# ------------------------------------------------------------------ tally

_ABSENT = object()


def _pluck(rec: dict, path: str):
    cur = rec
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return _ABSENT
        cur = cur[part]
    return cur


def _as_string(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    return str(v)


def _raw(v):
    """A leaf as the engine's raw accessor sees it: no value for absent
    and null alike, else its string form."""
    return None if v is _ABSENT or v is None else _as_string(v)


def _label(v) -> str:
    if v is _ABSENT:
        return "undefined"
    if v is None:
        return "null"
    return _as_string(v)


def _number(s):
    if s is None:
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return v if math.isfinite(v) else None


def _epoch(s) -> int | None:
    if s is None:
        return None
    n = _number(s)
    if n is not None:
        return math.floor(n)
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return math.floor(dt.timestamp())


def quantize(v: float) -> int:
    return 0 if v < 1 else 1 << (int(v).bit_length() - 1)


def lquantize(v: float, step: int) -> int:
    return math.floor(v / step) * step


def _matches(leaf: dict, pred) -> bool:
    if not pred:
        return True
    (op, arg), = pred.items()
    if op == "and":
        return all(_matches(leaf, p) for p in arg)
    if op == "or":
        return any(_matches(leaf, p) for p in arg)
    field, const = arg
    raw = _raw(leaf[field])
    if raw is None:
        return False
    num = _number(raw)
    if isinstance(const, (int, float)) and not isinstance(const, bool):
        if num is None:
            return False
        lhs, rhs = num, float(const)
    elif isinstance(const, str) and _number(const) is not None and num is not None:
        lhs, rhs = num, float(const)
    else:
        lhs, rhs = raw, str(const)
    return {
        "eq": lhs == rhs, "ne": lhs != rhs, "lt": lhs < rhs,
        "le": lhs <= rhs, "gt": lhs > rhs, "ge": lhs >= rhs,
    }[op]


def _breakdown_value(leaf: dict, b, epoch):
    """The group key of one record for a parsed Breakdown, or _ABSENT
    when the record is dropped (bad date or non-numeric bucket input)."""
    if b.date:
        v = epoch(_raw(leaf[b.field]))
    elif b.aggr:
        v = _number(_raw(leaf[b.field]))
    else:
        return _label(leaf[b.field])
    if v is None:
        return _ABSENT
    if b.aggr == "quantize":
        return quantize(v)
    if b.aggr == "lquantize":
        return lquantize(v, b.step or 1)
    return int(v)


def tally(records: list[dict], spec: dict) -> dict[tuple, int]:
    """Expected answer of one query spec: {group-key tuple: count}. A
    zero-breakdown query answers {(): n}, 0 included."""
    return tally_many(records, [spec])[0]


def tally_many(records: list[dict], specs: list[dict]) -> list[dict]:
    """``tally`` for many specs. Records are first counted by the leaf
    values a spec reads, so specs that read the same fields share one
    pass over the records."""
    from dragnet_spark.fieldspec import parse_breakdowns
    from dragnet_spark.krill import predicate_fields

    epochs: dict = {}

    def epoch(s):
        if s not in epochs:
            epochs[s] = _epoch(s)
        return epochs[s]

    projections: dict[tuple, Counter] = {}
    answers = []
    for spec in specs:
        bds = parse_breakdowns(spec["breakdowns"]) if spec.get("breakdowns") else []
        pred = spec.get("filter")
        after, before = spec.get("after"), spec.get("before")
        time_field = spec.get("time_field") or next(
            (b.field for b in bds if b.date), None
        )
        fields = {b.field for b in bds} | set(predicate_fields(pred))
        if after is not None:
            fields.add(time_field)
        fields = tuple(sorted(fields))
        if fields not in projections:
            projections[fields] = Counter(
                tuple(_pluck(r, f) for f in fields) for r in records
            )
        out: Counter = Counter()
        for values, n in projections[fields].items():
            leaf = dict(zip(fields, values))
            if not _matches(leaf, pred):
                continue
            if after is not None:
                t = epoch(_raw(leaf[time_field]))
                if t is None or not after <= t < before:
                    continue
            key = tuple(_breakdown_value(leaf, b, epoch) for b in bds)
            if _ABSENT not in key:
                out[key] += n
        answers.append(dict(out) if bds else {(): out[()]})
    return answers


def day_epoch(day: int) -> int:
    return START_EPOCH + day * DAY


# -------------------------------------------------------------- the corpus

#: FIXTURES §1's canonical scan corpus (tests/dn/scan_testcases.sh in the
#: reference): count, 1- and 3-field group-bys, the nullable caller,
#: eq filters, quantize/lquantize, date lquantize at a day and a minute,
#: and one bounded query the datasource prunes by its time format.
SCAN_CORPUS = {
    "count": {"breakdowns": None},
    "by_op": {"breakdowns": "operation"},
    "by_op_method_host": {"breakdowns": "operation,req.method,host"},
    "by_caller": {"breakdowns": "req.caller"},
    "by_op_caller": {"breakdowns": "operation,req.caller"},
    "get_count": {"breakdowns": None, "filter": {"eq": ["req.method", "GET"]}},
    "get_by_op_method_host": {
        "breakdowns": "operation,req.method,host",
        "filter": {"eq": ["req.method", "GET"]},
    },
    "poseidon_by_op": {
        "breakdowns": "operation",
        "filter": {"eq": ["req.caller", "poseidon"]},
    },
    "latency_q": {"breakdowns": "latency[aggr=quantize]"},
    "host_latency_q": {"breakdowns": "host,latency[aggr=quantize]"},
    "latency_lq100": {"breakdowns": "latency[aggr=lquantize,step=100]"},
    "per_day": {
        "breakdowns": "timestamp[date,field=time,aggr=lquantize,step=86400]"
    },
    "per_minute": {
        "breakdowns": "timestamp[date,field=time,aggr=lquantize,step=60]"
    },
    "bounded_by_host": {
        "breakdowns": "host", "time_field": "time",
        "after": START_EPOCH + 3 * DAY, "before": START_EPOCH + 6 * DAY,
    },
}


#: The index built by the build_query phase (FIXTURES §3), in routing
#: order: find_metric takes the first metric that can serve a query.
INDEX_METRICS = [
    {"name": "filtered_metric", "breakdowns": [],
     "filter": {"eq": ["req.method", "GET"]}},
    {"name": "big_metric",
     "breakdowns": "host,operation,req.caller,req.method,latency[aggr=quantize]"},
    {"name": "bycode", "breakdowns": "res.statusCode"},
    {"name": "requests_bystatus",
     "breakdowns": "timestamp[field=time,date,aggr=lquantize,step=60],res.statusCode"},
    {"name": "daily_4field",
     "breakdowns": "timestamp[field=time,date,aggr=lquantize,step=86400],"
                   "host,operation,req.method,res.statusCode"},
]


def index_query_stream(seed: int, days: int, n: int) -> list[dict]:
    """``n`` seeded query specs the index can serve. Seven templates, which
    route to every metric and include partition-pruned bounded queries,
    take turns in a fixed order, and each has a fixed shape (number of
    fields, filter or not, window length), so every seed asks for the
    same amount of work; the seed draws which fields, filter values and
    window positions. Bounds align to the serving metric's date step,
    so every answer equals the raw scan's."""
    rng = random.Random(seed * 7919 + 1)
    day_bd = "timestamp[field=time,date,aggr=lquantize,step=86400]"
    min_bd = "timestamp[field=time,date,aggr=lquantize,step=60]"
    fields = ["host", "operation", "req.caller", "req.method"]
    extras = ["host", "operation", "req.method", "res.statusCode"]

    def t_big_filtered():
        return {"breakdowns": ",".join(rng.sample(fields, 2)),
                "filter": {"eq": ["host", rng.choice(HOSTS)]}}

    def t_big_quantized():
        return {"breakdowns": ",".join(rng.sample(fields, 3) + ["latency[aggr=quantize]"])}

    def t_daily_bounded():
        a = rng.randrange(days - 2)
        return {"breakdowns": f"{day_bd},{rng.choice(extras)}",
                "after": day_epoch(a), "before": day_epoch(a + 3)}

    def t_code():
        return {"breakdowns": "res.statusCode",
                "filter": {"eq": ["res.statusCode", str(rng.choice(STATUS_CODES))]}}

    def t_minute():
        a = START_EPOCH + rng.randrange(days * 1440 - 120) * 60
        return {"breakdowns": min_bd + ",res.statusCode", "after": a, "before": a + 7200}

    def t_daily():
        return {"breakdowns": ",".join([day_bd] + rng.sample(extras, 2))}

    def t_get_count():
        return {"breakdowns": None, "filter": {"eq": ["req.method", "GET"]}}

    templates = (t_big_filtered, t_daily_bounded, t_code, t_minute,
                 t_big_quantized, t_daily, t_get_count)
    return [templates[i % len(templates)]() for i in range(n)]


def canonical(spec: dict) -> str:
    return json.dumps(spec, sort_keys=True, separators=(",", ":"))
