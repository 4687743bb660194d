"""The ``dn`` command-line interface.

Re-expresses the reference CLI (bin/dn) over the Spark engine, with
the same subcommand family, option names (dashdash table at
bin/dn:146-215), message shapes ("dn: <message>" to stderr, usage on
argument errors), and output formats (fixed-width datasource/metric
listings, bin/dn:421-489,572-614; scan/query output via
dragnet_spark.output.format).

Each verb is declared once, with ``@verb(name, nargs, options)``
(COMMANDS holds the declarations):

  nargs    the exact number of positionals
  options  option name → (type, default). The type is str, int, float,
           list (repeatable; the values collect in order), a converter
           such as _filter (a JSON document), or FLAG (present or
           absent, never given a value; declared with default False).
           The default is the value an absent option takes; None
           leaves it out of the parsed options, and REQUIRED makes it
           mandatory.

_parse_args turns argv into (positionals, typed options) before the
verb runs. An unknown option, a missing required option, a badly typed
value, a flag given a value or a wrong positional count is a usage
error: "dn: <message>" and the usage line on stderr, exit status 2.
Rules that tie options together (--bounded needs --out, trustrank
needs --seeds, the --mode and --op choices) stay in the verb bodies.

A SparkSession is only created for the commands that touch data;
config CRUD is instant.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import sys
from typing import Any, Callable, NamedTuple

from dragnet_spark.config import (
    Catalog,
    ConfigError,
    DatasourceConfig,
    MetricConfig,
    default_config_path,
)
from dragnet_spark.errors import ContractError
from dragnet_spark.fieldspec import FieldSpecError
from dragnet_spark.krill import KrillError
from dragnet_spark.query import QueryConfig, QueryError

USAGE = "usage: dn SUBCOMMAND [OPTIONS] ARGS"
ARG0 = "dn"


class UsageError(Exception):
    pass


class FatalError(Exception):
    pass


# ------------------------------------------------------------ option parsing

#: declared default of an option that must be given
REQUIRED = object()
#: option type of a flag: present or absent, never given a value
FLAG = bool


def _filter(val: str):
    try:
        return json.loads(val)
    except json.JSONDecodeError as e:
        raise UsageError(f"invalid filter: {e.msg}")


def _int_or_auto(val: str):
    return val if val == "auto" else int(val)


# what a value-checking option type accepts, for its usage error
_EXPECTED = {int: "an integer", float: "a number",
             _int_or_auto: 'an integer or "auto"'}


class Verb(NamedTuple):
    run: Callable
    nargs: int
    options: dict


COMMANDS: dict[str, Verb] = {}


def verb(name: str, nargs: int, options: dict | None = None):
    """Declare the ``dn`` verb ``name``: it takes ``nargs`` positionals
    and, per option name, a ``(type, default)`` pair (see the module
    docstring). The decorated ``run(args, opts, cat, out)`` gets the
    positionals and the typed options."""

    def register(run):
        COMMANDS[name] = Verb(run, nargs, options or {})
        return run

    return register


_SHORTS = {
    "A": "after", "B": "before", "b": "breakdowns", "n": "dry-run",
    "f": "filter", "i": "interval", "v": "verbose",
}


def _require(opts: dict, name: str) -> None:
    if name.replace("-", "_") not in opts:
        raise UsageError(f'"{name}" option is required')


def _parse_args(argv: list[str], nargs: int, options: dict):
    """Minimal dashdash-alike over one verb's declaration: --opt=v,
    --opt v and -x v, with positionals interspersed. Returns
    ``(positionals, opts)``; ``opts`` is keyed by option name with
    dashes as underscores and holds every option that was given or
    has a default. Unknown options, like the
    reference's allowUnknown: false, and missing, badly typed or
    wrongly valued options and a wrong positional count are
    UsageErrors."""
    args: list[str] = []
    opts: dict[str, Any] = {}
    i = 0
    while i < len(argv):
        a = argv[i]
        name = None
        inline = None
        if a.startswith("--") and len(a) > 2:
            name, eq, val = a[2:].partition("=")
            if eq:
                inline = val
        elif a.startswith("-") and len(a) > 1 and not a[1:].isdigit():
            short = a[1:]
            if short not in _SHORTS:
                raise UsageError(f'unknown option: "-{short}"')
            name = _SHORTS[short]
        if name is None:
            args.append(a)
            i += 1
            continue
        if name not in options:
            raise UsageError(f'unknown option: "--{name}"')
        typ = options[name][0]
        key = name.replace("-", "_")
        if typ is FLAG:
            if inline is not None:
                # '--quantize=false' silently ENABLING quantization is
                # the worst parse outcome; flags take no value at all
                raise UsageError(
                    f'option "--{name}" is a flag and takes no value'
                )
            opts[key] = True
        else:
            if inline is None:
                if i + 1 >= len(argv):
                    raise UsageError(f'option "--{name}" requires an argument')
                i += 1
                inline = argv[i]
            if typ is list:
                # repeatable; comma-splitting is bracket-aware and
                # happens in the field-spec parser (reference:
                # dnExpandArray → attrsParse)
                opts.setdefault(key, []).append(inline)
            else:
                try:
                    opts[key] = typ(inline)
                except ValueError:
                    raise UsageError(
                        f'bad value for "{name}" ("{inline}"): '
                        f"expected {_EXPECTED[typ]}"
                    )
        i += 1
    if len(args) < nargs:
        raise UsageError("missing arguments")
    if len(args) > nargs:
        raise UsageError('extra arguments: "%s"' % " ".join(args[nargs:]))
    for name, (_, default) in options.items():
        if default is REQUIRED:
            _require(opts, name)
        elif default is not None:
            opts.setdefault(name.replace("-", "_"), default)
    return args, opts


# ------------------------------------------------------------- config output

def _location(ds: DatasourceConfig) -> str:
    if ds.backend == "manta":
        return "manta://us-east.manta.joyent.com" + ds.path
    return "file:/" + ds.path


def _print_datasource(out, name: str, ds: DatasourceConfig, verbose: bool):
    out.write("%-20s %-59s\n" % (name, _location(ds)))
    if not verbose:
        return
    if ds.filter is not None:
        out.write("    %-11s %s\n" % ("filter:", json.dumps(ds.filter, separators=(",", ":"))))
    out.write("    %-11s %s\n" % ("dataFormat:", json.dumps(ds.data_format)))
    for label, v in (
        ("indexPath:", ds.index_path),
        ("timeFormat:", ds.time_format),
        ("timeField:", ds.time_field),
    ):
        if v is not None:
            out.write("    %-11s %s\n" % (label, json.dumps(v)))


# ------------------------------------------------------------ config commands

# datasource-add's options; datasource-update takes the same ones with
# no defaults, so only the options given replace the stored values
_DS_OPTS = {
    "backend": (str, "file"), "data-format": (str, "json"),
    "filter": (_filter, None), "path": (str, REQUIRED),
    "time-field": (str, None), "time-format": (str, None),
    "index-path": (str, None),
}


@verb("datasource-add", 1, _DS_OPTS)
def cmd_datasource_add(args, opts, cat: Catalog, out):
    (name,) = args
    cat.datasource_add(DatasourceConfig(name=name, **opts))
    cat.save()


@verb("datasource-update", 1, {o: (t, None) for o, (t, _) in _DS_OPTS.items()})
def cmd_datasource_update(args, opts, cat: Catalog, out):
    (name,) = args
    merged = dataclasses.replace(cat.datasource(name), **opts)
    cat.datasource_add(merged, update=True)
    cat.save()


@verb("datasource-remove", 1)
def cmd_datasource_remove(args, opts, cat: Catalog, out):
    (name,) = args
    cat.datasource_remove(name)
    cat.save()


@verb("datasource-list", 0, {"verbose": (FLAG, False)})
def cmd_datasource_list(args, opts, cat: Catalog, out):
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    for name in cat.datasources:
        _print_datasource(out, name, cat.datasources[name], opts["verbose"])


@verb("datasource-show", 1, {"verbose": (FLAG, False)})
def cmd_datasource_show(args, opts, cat: Catalog, out):
    (name,) = args
    ds = cat.datasource(name)
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    _print_datasource(out, name, ds, opts["verbose"])


@verb("metric-add", 2, {"breakdowns": (list, None), "filter": (_filter, None)})
def cmd_metric_add(args, opts, cat: Catalog, out):
    from dragnet_spark.fieldspec import parse_breakdowns

    dsname, metname = args
    parsed = parse_breakdowns(opts.get("breakdowns", []))
    cat.metric_add(
        MetricConfig(
            name=metname,
            datasource=dsname,
            breakdowns=[{"name": b.name, **b.attrs} for b in parsed],
            filter=opts.get("filter"),
        )
    )
    cat.save()


@verb("metric-remove", 2)
def cmd_metric_remove(args, opts, cat: Catalog, out):
    dsname, metname = args
    cat.metric_remove(dsname, metname)
    cat.save()


@verb("metric-list", 1, {"verbose": (FLAG, False)})
def cmd_metric_list(args, opts, cat: Catalog, out):
    (dsname,) = args
    out.write("%-20s %-20s\n" % ("DATASOURCE", "METRIC"))
    for m in cat.metrics_for(dsname):
        out.write("%-20s %-20s\n" % (m.datasource, m.name))
        if not opts["verbose"]:
            continue
        if m.filter is not None:
            out.write("    %-11s %s\n" % ("filter:", json.dumps(m.filter, separators=(",", ":"))))
        if m.breakdowns:
            out.write("    %-11s %s\n" % (
                "breakdowns:", ", ".join(b["name"] for b in m.breakdowns)
            ))


# -------------------------------------------------------------- data commands

def _get_spark():
    from dragnet_spark.session import get_spark

    return get_spark(app_name="dn")


def _query_from_opts(opts: dict, ds: DatasourceConfig) -> QueryConfig:
    from dragnet_spark.fieldspec import parse_breakdowns

    raw_bds = opts.get("breakdowns") or []
    for raw in raw_bds:  # attribute grammar errors to the offending -b value
        try:
            parse_breakdowns(raw)
        except FieldSpecError as e:
            raise UsageError(f'bad value for "breakdowns" ("{raw}"): {e}')
    bds = ",".join(raw_bds) if raw_bds else None
    query = QueryConfig.load(
        breakdowns=bds,
        filter=opts.get("filter"),
        time_after=opts.get("after"),
        time_before=opts.get("before"),
        time_field=ds.time_field,
    )
    if opts.get("gnuplot") and len(query.breakdowns) != 1:
        raise FatalError("--gnuplot can only be used with exactly one breakdown")
    return query


def _metrics_for_build(cat: Catalog, dsname: str, opts: dict):
    from dragnet_spark.index.build import Metric

    if "index_config" in opts:
        with open(opts["index_config"]) as f:
            cfg = json.load(f)
        return [Metric.from_json(m) for m in cfg.get("metrics", [])]
    out = [
        Metric.load(m.name, [dict(b) for b in m.breakdowns], m.filter)
        for m in cat.metrics_for(dsname)
    ]
    return out


def _index_root(ds: DatasourceConfig, interval: str) -> str:
    """Per-interval index subtree (reference: by_day/ by_hour/ under
    indexPath, lib/dragnet-impl.js:194-236) — day and hour indexes for
    one datasource coexist; --interval selects at query time."""
    import os

    return os.path.join(ds.index_path, f"by_{interval}")


def _render_result(df, query, opts, out, title):
    from dragnet_spark.output.format import render

    if opts.get("gnuplot") and len(query.breakdowns) != 1:
        raise FatalError("--gnuplot can only be used with exactly one breakdown")
    mode = (
        "points" if opts.get("points")
        else "raw" if opts.get("raw")
        else "gnuplot" if opts.get("gnuplot")
        else "table"
    )
    out.write(render(df, query, mode=mode, title=title))


def _print_counters(observations: dict, noutputs: int) -> None:
    """Per-stage counters to stderr (reference: vsDumpCounters shape,
    'NAME<pad19>label:<right-pad to 21> N'). Observations piggyback on
    the scan's single pass — no extra jobs."""

    def line(name, label, value):
        lbl = label + ":"
        sys.stderr.write("%-19s%s%s\n" % (name, lbl, str(value).rjust(21 - len(lbl))))

    parser = observations.get("json parser")
    adapter = observations.get("adapter")
    ninputs = parser.get.get("ninputs", 0) if parser else 0
    nparsed = adapter.get.get("noutputs", 0) if adapter else 0
    if parser:
        line("json parser", "ninputs", ninputs)
        line("json parser", "noutputs", nparsed)
        if ninputs > nparsed:
            line("json parser", "invalid json", ninputs - nparsed)
    dt = observations.get("datetime")
    dt_out = None
    if dt is not None:
        vals = dt.get
        dt_in = vals.get("ninputs", 0)
        baddate = vals.get("baddate") or 0
        undef = vals.get("undef") or 0
        dt_out = dt_in - baddate - undef
        # reference prints counters alphabetically (vsDumpCounters);
        # baddate/undef exist only once incremented
        if baddate:
            line("Datetime parser", "baddate", baddate)
        line("Datetime parser", "ninputs", dt_in)
        line("Datetime parser", "noutputs", dt_out)
        if undef:
            line("Datetime parser", "undef", undef)
    tf = observations.get("timefilter")
    if tf is not None and dt_out is not None:
        tf_out = tf.get.get("noutputs", 0)
        if dt_out > tf_out:
            line("Time filter", "nfilteredout", dt_out - tf_out)
        line("Time filter", "ninputs", dt_out)
        line("Time filter", "noutputs", tf_out)
    line("Aggregator", "noutputs", noutputs)


# the query options of scan, query and index-scan
_QUERY_OPTS = {
    "before": (str, None), "after": (str, None), "filter": (_filter, None),
    "breakdowns": (list, None), "counters": (FLAG, False),
}
# scan and query render through output.format
_RENDER_OPTS = {
    "raw": (FLAG, False), "points": (FLAG, False), "gnuplot": (FLAG, False),
    "assetroot": (str, None), "dry-run": (FLAG, False),
}


@verb("scan", 1, {**_QUERY_OPTS, **_RENDER_OPTS, "warnings": (FLAG, False)})
def cmd_scan(args, opts, cat: Catalog, out):
    from dragnet_spark.datasource import list_files, load_datasource, resolve_paths
    from dragnet_spark.scan import scan

    (dsname,) = args
    ds = cat.datasource(dsname)
    query = _query_from_opts(opts, ds)

    if opts["dry_run"]:
        out.write("would scan files:\n")
        for f in list_files(resolve_paths(ds, query)):
            out.write("    %s\n" % f)
        return

    spark = _get_spark()
    observations = {} if opts["counters"] else None
    df, resolver, value_col = load_datasource(
        spark, ds, query, observations=observations
    )
    if df is None:
        _render_result([], query, opts, out, dsname)
        return
    res = scan(df, query, datasource_filter=ds.filter,
               value_col=value_col, resolver=resolver,
               observations=observations)
    rows = [tuple(r) for r in res.collect()]
    _render_result(rows, query, opts, out, dsname)
    if observations:
        _print_counters(observations, len(rows))
    if opts["warnings"]:
        from dragnet_spark.sources.ndjson import corrupt_line_count

        if ds.data_format == "json":
            n = corrupt_line_count(spark, resolve_paths(ds, query))
            if n:
                sys.stderr.write("warn: %d unparseable input lines\n" % n)


@verb("build", 1, {
    "after": (str, None), "before": (str, None), "counters": (FLAG, False),
    "dry-run": (FLAG, False), "index-config": (str, None),
    "interval": (str, "day"), "warnings": (FLAG, False),
    "assetroot": (str, None),
})
def cmd_build(args, opts, cat: Catalog, out):
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import build_index

    (dsname,) = args
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    metrics = _metrics_for_build(cat, dsname, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    interval = opts["interval"]
    query = _query_from_opts(opts, ds)

    if opts["dry_run"]:
        out.write('would build %s index for "%s" (%d metrics)\n'
                  % (interval, dsname, len(metrics)))
        return

    spark = _get_spark()
    df, resolver, _vc = load_datasource(spark, ds, query)
    if df is None:
        raise FatalError("no input files in the requested time range")
    build_index(
        spark, df, metrics, _index_root(ds, interval), interval=interval,
        time_field=ds.time_field, datasource_filter=ds.filter,
        resolver=resolver,
        time_after=query.time_after, time_before=query.time_before,
    )
    sys.stderr.write('indexes for "%s" built\n' % dsname)


@verb("query", 1, {**_QUERY_OPTS, **_RENDER_OPTS, "interval": (str, "day")})
def cmd_query(args, opts, cat: Catalog, out):
    from dragnet_spark.index.query import NoMetricError, query_index

    (dsname,) = args
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    query = _query_from_opts(opts, ds)
    import os

    interval = opts["interval"]
    idx = _index_root(ds, interval)
    if not os.path.exists(idx):
        raise FatalError(
            f'no index found for "{dsname}" (run "dn build {dsname}" first)'
        )
    spark = _get_spark()
    try:
        res = query_index(spark, idx, query)
    except NoMetricError:
        raise FatalError("no metrics available to serve query")
    except FileNotFoundError:
        raise FatalError(
            f'no index found for "{dsname}" (run "dn build {dsname}" first)'
        )
    _render_result(res, query, opts, out, dsname)


@verb("index-config", 1)
def cmd_index_config(args, opts, cat: Catalog, out):
    (dsname,) = args
    cat.datasource(dsname)
    metrics = [
        {"name": m.name, "filter": m.filter,
         "breakdowns": [dict(b) for b in m.breakdowns]}
        for m in cat.metrics_for(dsname)
    ]
    out.write(json.dumps({"metrics": metrics}, separators=(",", ":")) + "\n")


@verb("index-scan", 1, {
    **_QUERY_OPTS, "index-config": (str, None), "interval": (str, "day"),
})
def cmd_index_scan(args, opts, cat: Catalog, out):
    """Map phase of a distributed build: emit each metric's aggregated
    points, tagged with __dn_metric, ready to pipe into index-read."""
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import BUCKET_COL, bucket_column
    from dragnet_spark.output.format import format_points
    from dragnet_spark.scan import ColumnOverlayResolver, scan
    from dragnet_spark.fieldspec import Breakdown
    from pyspark.sql import functions as F

    (dsname,) = args
    ds = cat.datasource(dsname)
    metrics = _metrics_for_build(cat, dsname, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    interval = opts["interval"]
    query = _query_from_opts(opts, ds)
    spark = _get_spark()
    df, resolver, _vc = load_datasource(spark, ds, query)
    if df is None:
        return
    # one-pass multiplexed map phase: all metrics share a single read
    # + shuffle (index/build.fanout_aggregate), like the build path
    from dragnet_spark.index.build import fanout_aggregate, select_metric
    from dragnet_spark.krill import compile_predicate

    src, r = df, resolver
    if ds.filter:
        src = src.filter(compile_predicate(ds.filter, r.raw))
    if interval != "all" and ds.time_field:
        src = src.withColumn(
            BUCKET_COL,
            bucket_column(
                r.raw(ds.time_field), interval, r.dtype(ds.time_field)
            ),
        ).filter(F.col(BUCKET_COL).isNotNull())
        r = ColumnOverlayResolver(r, [BUCKET_COL])
        prefix = [Breakdown(BUCKET_COL, BUCKET_COL)]
    else:
        prefix = []
    per_metric = []
    fanned = []
    for m in metrics:
        bds = tuple(prefix) + m.breakdowns
        fan_idx = len(fanned) if bds else None
        per_metric.append((m, bds, fan_idx))
        if bds:
            fanned.append((m.filter, bds))
    agg = None
    if fanned:
        agg = fanout_aggregate(src, fanned, r).persist()
    try:
        for i, (m, bds, fan_idx) in enumerate(per_metric):
            q = QueryConfig(breakdowns=tuple(bds), filter=m.filter)
            if fan_idx is not None:
                res = select_metric(agg, fan_idx, bds)
            else:
                # zero-group total: keep scan()'s one-0-row shape
                res = scan(src, q, resolver=r)
            rows = [tuple(x) for x in res.collect()]
            for line in format_points(rows, q):
                obj = json.loads(line)
                obj["fields"]["__dn_metric"] = i
                out.write(json.dumps(obj, separators=(",", ":")) + "\n")
    finally:
        if agg is not None:
            agg.unpersist()


@verb("index-read", 1, {"index-config": (str, None), "interval": (str, "day")})
def cmd_index_read(args, opts, cat: Catalog, out):
    """Reduce phase of a distributed build: read tagged points from
    stdin and materialize the index views."""
    from dragnet_spark.index.build import BUCKET_COL, INDEX_META_FILE, INDEX_VERSION
    from dragnet_spark.index.store import write_meta
    import os

    (dsname,) = args
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    metrics = _metrics_for_build(cat, dsname, opts)
    interval = opts["interval"]
    spark = _get_spark()

    by_metric: dict[int, list[dict]] = {}
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        pt = json.loads(line)
        fields = pt["fields"]
        idx = int(fields.pop("__dn_metric", 0))
        fields["value"] = pt["value"]
        by_metric.setdefault(idx, []).append(fields)

    root = _index_root(ds, interval)
    for i, m in enumerate(metrics):
        rows = by_metric.get(i, [])
        if not rows:
            continue
        sdf = spark.createDataFrame(rows)
        path = os.path.join(root, m.name)
        if BUCKET_COL in sdf.columns:
            (sdf.repartition(BUCKET_COL).write.mode("overwrite")
             .partitionBy(BUCKET_COL).parquet(path))
        else:
            sdf.coalesce(1).write.mode("overwrite").parquet(path)

    meta = {
        "version": INDEX_VERSION,
        "interval": interval,
        "time_field": ds.time_field,
        "datasource_filter": ds.filter,
        "metrics": [m.to_json() for m in metrics],
    }
    write_meta(root, INDEX_META_FILE, meta)


@verb("compact", 1, {"interval": (str, "day"), "dry-run": (FLAG, False)})
def cmd_compact(args, opts, cat: Catalog, out):
    """dn compact <datasource> [--interval=day]: re-aggregate a view
    tree that accumulated appended partials (continuous builds) down to
    one row per group — answers unchanged, file count bounded. Stop
    any continuous build writing this tree first (overwrite-based
    maintenance is not concurrent-writer safe)."""
    import os

    from dragnet_spark.index.build import compact_index

    (dsname,) = args
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    interval = opts["interval"]
    root = _index_root(ds, interval)
    if not os.path.isdir(root):
        raise FatalError(f"no {interval} index at {root}")
    if opts["dry_run"]:
        out.write('would compact %s index for "%s"\n' % (interval, dsname))
        return
    compact_index(_get_spark(), root)
    out.write('compacted %s index for "%s"\n' % (interval, dsname))


@verb("vindex-build", 1, {
    "out": (str, REQUIRED), "centroids": (int, 16), "quantize": (FLAG, False),
    "id-field": (str, "vec_id"), "vec-field": (str, "embedding"),
    "target-rows-per-cell": (int, None),
})
def cmd_vindex_build(args, opts, cat: Catalog, out):
    """dn vindex-build <embeddings.parquet> --out=PATH
    [--centroids=16] [--quantize] [--id-field=vec_id]
    [--vec-field=embedding] [--target-rows-per-cell=N]: materialize
    the IVF vector index (beyond-reference; index/vector.py) — the
    reference's build-once discipline applied to embeddings.
    --quantize stores int8 codes + scale (~4× less probe I/O; probes
    dequantize inline). --target-rows-per-cell persists the growth
    policy: recenter then auto-sizes the cell count to the store
    (auto_cell_count) so continuous ingest keeps probe cost flat."""
    from dragnet_spark.index.vector import build_vector_index

    (src,) = args
    spark = _get_spark()
    meta = build_vector_index(
        spark,
        spark.read.parquet(src),
        opts["out"],
        id_col=opts["id_field"],
        vec_col=opts["vec_field"],
        n_centroids=opts["centroids"],
        quantize=opts["quantize"],
        target_rows_per_cell=opts.get("target_rows_per_cell"),
    )
    out.write(
        "built vector index: %d cells, %d dims%s at %s\n"
        % (
            meta["n_centroids"],
            meta["dims"],
            " (int8)" if meta["quantized"] else "",
            opts["out"],
        )
    )


@verb("vindex-append", 1, {"out": (str, REQUIRED)})
def cmd_vindex_append(args, opts, cat: Catalog, out):
    """dn vindex-append <embeddings.parquet> --out=PATH: append a
    batch into an existing vector index against its PERSISTED
    centroids (index/vector.append_vector_index) — continuous ingest
    without a rebuild; recenter when cell skew passes the documented
    trigger."""
    from dragnet_spark.index.vector import append_vector_index

    (src,) = args
    spark = _get_spark()
    append_vector_index(spark, spark.read.parquet(src), opts["out"])
    out.write("appended into vector index at %s\n" % opts["out"])


@verb("vindex-query", 1, {
    "queries": (str, REQUIRED), "k": (int, 5), "probe": (int, 4),
    "id-field": (str, "vec_id"), "vec-field": (str, "embedding"),
})
def cmd_vindex_query(args, opts, cat: Catalog, out):
    """dn vindex-query <index-path> --queries=<parquet> [--k=5]
    [--probe=4] [--id-field=vec_id] [--vec-field=embedding]: top-k
    neighbors from the materialized index as NDJSON lines (the
    points-emitter convention)."""
    from dragnet_spark.index.vector import query_vector_index

    (idx,) = args
    spark = _get_spark()
    res = query_vector_index(
        spark,
        idx,
        spark.read.parquet(opts["queries"]),
        k=opts["k"],
        n_probe=opts["probe"],
        id_col=opts["id_field"],
        vec_col=opts["vec_field"],
    )
    # presentation-layer collect: the final top-k result only
    for line in res.orderBy("query_id", "rank").toJSON().collect():
        out.write(line + "\n")


@verb("fp-build", 1, {
    "out": (str, REQUIRED), "id-field": (str, "doc_id"),
    "text-field": (str, "text"),
})
def cmd_fp_build(args, opts, cat: Catalog, out):
    """dn fp-build <docs.parquet> --out=PATH [--id-field=doc_id]
    [--text-field=text]: materialize the fingerprint store
    (beyond-reference; index/fingerprints.py) for incremental-ingest
    dedup."""
    from dragnet_spark.index.fingerprints import build_fingerprint_store

    (src,) = args
    spark = _get_spark()
    build_fingerprint_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        id_col=opts["id_field"],
    )
    out.write("built fingerprint store at %s\n" % opts["out"])


@verb("fp-probe", 1, {
    "queries": (str, REQUIRED), "id-field": (str, "doc_id"),
    "text-field": (str, "text"),
})
def cmd_fp_probe(args, opts, cat: Catalog, out):
    """dn fp-probe <store-path> --queries=<parquet>
    [--id-field=doc_id] [--text-field=text]: probe an arriving batch
    against the store; prints per-doc NDJSON (doc_id, dup_of,
    is_duplicate) and a summary line."""
    from dragnet_spark.index.fingerprints import probe_new_documents

    (store,) = args
    spark = _get_spark()
    res = probe_new_documents(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        text_col=opts["text_field"],
        id_col=opts["id_field"],
    ).orderBy("doc_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "dup_of": r["dup_of"],
                    "is_duplicate": bool(r["is_duplicate"]),
                }
            )
            + "\n"
        )
    n_dup = sum(1 for r in rows if r["is_duplicate"])
    out.write("%d of %d already ingested\n" % (n_dup, len(rows)))


@verb("band-build", 1, {
    "out": (str, REQUIRED), "hashes": (int, 16), "bands": (int, 8),
    "id-field": (str, "doc_id"), "text-field": (str, "text"),
})
def cmd_band_build(args, opts, cat: Catalog, out):
    """dn band-build <docs.parquet> --out=PATH [--hashes=16]
    [--bands=8] [--id-field=doc_id] [--text-field=text]: materialize
    the minhash band store (in-stream near-dedup;
    index/fingerprints.build_band_store)."""
    from dragnet_spark.index.fingerprints import build_band_store

    (src,) = args
    spark = _get_spark()
    meta = build_band_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        id_col=opts["id_field"],
        num_hashes=opts["hashes"],
        bands=opts["bands"],
    )
    out.write(
        "built band store: %d hashes x %d bands at %s\n"
        % (meta["num_hashes"], meta["bands"], opts["out"])
    )


@verb("band-probe", 1, {"queries": (str, REQUIRED)})
def cmd_band_probe(args, opts, cat: Catalog, out):
    """dn band-probe <store-path> --queries=<parquet>: probe an
    arriving batch for NEAR-duplicates of the stored corpus; prints
    per-doc NDJSON (doc_id, n_band_hits, dup_of, is_near_duplicate)
    and a summary line."""
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    (store,) = args
    spark = _get_spark()
    res = probe_near_duplicates(
        spark, store, spark.read.parquet(opts["queries"])
    ).orderBy("doc_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "n_band_hits": r["n_band_hits"],
                    "dup_of": r["dup_of"],
                    "is_near_duplicate": bool(r["is_near_duplicate"]),
                }
            )
            + "\n"
        )
    n_near = sum(1 for r in rows if r["is_near_duplicate"])
    out.write("%d of %d near-duplicate the corpus\n" % (n_near, len(rows)))


@verb("band-append", 1, {"docs": (str, REQUIRED)})
def cmd_band_append(args, opts, cat: Catalog, out):
    """dn band-append <store-path> --docs=<parquet>: append a new
    batch's band keys with the store's PERSISTED banding params —
    the ingest-loop step that pays the signature stage exactly once
    per document, making later `dn band-pairs` runs store-amortized
    (the srp-append twin for token-level near-dup)."""
    from dragnet_spark.index.fingerprints import append_band_keys

    (store,) = args
    spark = _get_spark()
    append_band_keys(spark, spark.read.parquet(opts["docs"]), store)
    out.write("appended band keys into %s\n" % store)


@verb("srp-build", 1, {
    "out": (str, REQUIRED), "bands": (int, 8), "bits": (_int_or_auto, 16),
    "seed": (int, 42), "dims": (int, None), "no-pair-keys": (FLAG, False),
    "id-field": (str, "vec_id"), "vec-field": (str, "embedding"),
})
def cmd_srp_build(args, opts, cat: Catalog, out):
    """dn srp-build <embeddings.parquet> --out=PATH [--bands=8]
    [--bits=16|auto] [--seed=42] [--dims=N] [--no-pair-keys]
    [--id-field=vec_id] [--vec-field=embedding]:
    materialize the SRP band store (in-stream SEMANTIC near-dedup;
    index/fingerprints.build_srp_store). ``--bits auto`` sizes the
    band width for THIS corpus (min(32, ceil(log2(n·bands/8))) —
    ops/dedup.auto_bits_per_band: a pinned width has a corpus
    ceiling) and keys a PREFIX of the static 32-bit plane matrix, so
    an auto-width store built at any tier stays comparable with the
    full-width form. ``--no-pair-keys`` skips the derived band-PAIR
    key dir (pair discovery via srp-pairs does not need it)."""
    from dragnet_spark.index.fingerprints import build_srp_store

    (src,) = args
    spark = _get_spark()
    df = spark.read.parquet(src)
    bands, seed, bits = opts["bands"], opts["seed"], opts["bits"]
    vec_col = opts["vec_field"]
    dims = opts.get("dims")
    kwargs = {}
    if bits == "auto":
        from pyspark.sql import functions as F

        from dragnet_spark.ops.dedup import auto_srp_width

        if dims is None:
            first = (
                df.select(F.size(F.col(vec_col)).alias("d"))
                .filter(F.col("d") > 0)
                .first()
            )
            if first is None:
                raise FatalError(
                    "srp-build --bits auto: no non-null vectors and "
                    "no --dims to size the plane matrix from"
                )
            dims = int(first["d"])
        n = df.count()
        bits, kwargs["planes_q"] = auto_srp_width(n, bands, dims, seed)
    meta = build_srp_store(
        spark,
        df,
        opts["out"],
        vec_col=vec_col,
        id_col=opts["id_field"],
        bands=bands,
        bits_per_band=bits,
        seed=seed,
        dims=dims,
        with_pairs=not opts["no_pair_keys"],
        **kwargs,
    )
    out.write(
        "built SRP store: %d bands x %d bits (%d dims) at %s\n"
        % (meta["bands"], meta["bits_per_band"], meta["dims"], opts["out"])
    )


@verb("srp-append", 1, {"vectors": (str, REQUIRED)})
def cmd_srp_append(args, opts, cat: Catalog, out):
    """dn srp-append <store-path> --vectors=<parquet>: append a new
    batch's band keys with the store's PERSISTED planes."""
    from dragnet_spark.index.fingerprints import append_srp_keys

    (store,) = args
    spark = _get_spark()
    append_srp_keys(spark, spark.read.parquet(opts["vectors"]), store)
    out.write("appended SRP band keys into %s\n" % store)


@verb("srp-probe", 1, {"queries": (str, REQUIRED), "min-band-hits": (int, 1)})
def cmd_srp_probe(args, opts, cat: Catalog, out):
    """dn srp-probe <store-path> --queries=<parquet>
    [--min-band-hits=1]: probe an arriving embedding batch for
    SEMANTIC near-duplicates of the stored corpus; prints per-vector
    NDJSON (vec_id, n_band_hits, dup_of, is_near_duplicate) and a
    summary line."""
    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    (store,) = args
    spark = _get_spark()
    res = probe_srp_near_duplicates(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        min_band_hits=opts["min_band_hits"],
    ).orderBy("vec_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "vec_id": r["vec_id"],
                    "n_band_hits": r["n_band_hits"],
                    "dup_of": r["dup_of"],
                    "is_near_duplicate": bool(r["is_near_duplicate"]),
                }
            )
            + "\n"
        )
    n_near = sum(1 for r in rows if r["is_near_duplicate"])
    out.write("%d of %d near-duplicate the corpus\n" % (n_near, len(rows)))


def _print_pair_rows(out, rows, score_col: str) -> None:
    for r in rows:
        out.write(
            json.dumps(
                {
                    "id_a": r["id_a"],
                    "id_b": r["id_b"],
                    score_col: r[score_col],
                }
            )
            + "\n"
        )


def _run_candidates_only(fn, store: str, opts: dict, out) -> None:
    """Shared --candidates-only body for band-pairs / srp-pairs: the
    bounded collision-join stage alone. The deduplicated candidate
    set is materialized at OUT/pairs (the library collapses
    cross-band duplicates into the sink, so the printed count IS the
    sink's row count); OUT also holds the resume manifest."""
    if "out" not in opts:
        raise UsageError('"--candidates-only" requires "--out"')
    slices = opts["slices"]
    spark = _get_spark()
    n = fn(spark, store, opts["out"], slices=slices).count()
    out.write(
        "%d candidate pairs at %s/pairs (bounded discovery, %d slices; "
        "unverified — run verify where the corpus lives)\n"
        % (n, opts["out"], slices)
    )


@verb("band-pairs", 1, {
    "docs": (str, None), "threshold": (float, 0.8), "out": (str, None),
    "bounded": (FLAG, False), "slices": (int, 8),
    "candidates-only": (FLAG, False),
})
def cmd_band_pairs(args, opts, cat: Catalog, out):
    """dn band-pairs <store-path> --docs=<parquet> [--threshold=0.8]
    [--out=DIR] [--bounded [--slices=8]]: near-duplicate PAIR
    DISCOVERY from the persisted minhash band store — the
    store-amortized production pipeline (signatures paid once at
    ingest by band-build/band-append; candidates come from the
    persisted (band, bhash, doc_id) rows; every candidate is verified
    with the exact Jaccard against --docs, which supplies the text).
    --bounded runs the verify as --slices SEQUENTIAL crash-resumable
    jobs writing into --out (required), bounding peak shuffle/spill
    to ~1/slices of the one-shot — the shape measured at the 10⁴
    octave (50M docs: 96 s candidates + 2180 s bounded verify where
    the one-shot exchange projected 145 GB). Output (id_a, id_b,
    jaccard) goes to --out as parquet when given, else prints NDJSON
    rows (small runs); always ends with a summary line.

    --candidates-only runs ONLY the bounded collision-join stage
    (band_store_candidates_bounded): --slices sequential hash-slice
    jobs writing (id_a, id_b) candidates into --out (required), no
    --docs needed since text never enters discovery. The 10⁵-tier
    posture: at 5×10⁸ docs the collision exchange itself exceeds
    one box's disk, and verify runs elsewhere (wherever the corpus
    durably lives)."""
    from dragnet_spark.index.fingerprints import (
        band_store_candidates_bounded,
        band_store_pairs,
        band_store_pairs_bounded,
    )

    (store,) = args
    if opts["candidates_only"]:
        _run_candidates_only(band_store_candidates_bounded, store, opts, out)
        return
    _require(opts, "docs")
    thr = opts["threshold"]
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    if opts["bounded"]:
        if "out" not in opts:
            raise UsageError('"--bounded" requires "--out"')
        slices = opts["slices"]
        pairs = band_store_pairs_bounded(
            spark, store, docs, opts["out"], threshold=thr, slices=slices
        )
        n = pairs.count()
        out.write(
            "%d near-duplicate pairs (jaccard >= %g) at %s "
            "(bounded verify, %d slices)\n" % (n, thr, opts["out"], slices)
        )
        return
    pairs = band_store_pairs(spark, store, docs, threshold=thr)
    if "out" in opts:
        pairs.write.mode("overwrite").parquet(opts["out"])
        n = spark.read.parquet(opts["out"]).count()
        out.write(
            "%d near-duplicate pairs (jaccard >= %g) at %s\n"
            % (n, thr, opts["out"])
        )
        return
    rows = pairs.orderBy("id_a", "id_b").collect()  # presentation-layer
    _print_pair_rows(out, rows, "jaccard")
    out.write(
        "%d near-duplicate pairs (jaccard >= %g)\n" % (len(rows), thr)
    )


@verb("srp-pairs", 1, {
    "vectors": (str, None), "threshold": (float, 0.9), "out": (str, None),
    "mode": (str, "oneshot"), "slices": (int, 8),
    "candidates-only": (FLAG, False),
})
def cmd_srp_pairs(args, opts, cat: Catalog, out):
    """dn srp-pairs <store-path> --vectors=<parquet> [--threshold=0.9]
    [--out=DIR] [--mode=oneshot|sliced|bucket [--slices=8]]: SEMANTIC
    near-duplicate PAIR DISCOVERY from the persisted SRP band store —
    the embedding twin of band-pairs (candidates from persisted
    (band, bucket, vec_id) rows; exact rounded-cosine verify against
    --vectors). --mode picks the verify shape: oneshot (default) is
    the plain DAG; sliced partitions the candidate pairs into
    --slices sequential jobs (bounds footprint when candidate DEGREE
    is low); bucket runs per-band bucket-local matmuls and never
    joins vectors onto pairs at all — the shape that completed the
    10⁴ octave (40M vectors: 251 s candidates + 3941 s bucket verify
    where the one-shot exchange projected 455 GB; pick it when mean
    candidate degree is high). sliced/bucket require --out. Output
    (id_a, id_b, cosine) as for band-pairs. --candidates-only: the
    bounded collision-join stage alone (no --vectors, no verify) —
    see band-pairs."""
    from dragnet_spark.index.fingerprints import (
        srp_store_candidates_bounded,
        srp_store_pairs,
        srp_store_pairs_bounded,
        srp_store_pairs_bucket_verify,
    )

    (store,) = args
    if opts["candidates_only"]:
        _run_candidates_only(srp_store_candidates_bounded, store, opts, out)
        return
    _require(opts, "vectors")
    mode = opts["mode"]
    if mode not in ("oneshot", "sliced", "bucket"):
        raise UsageError(
            f'unknown mode: "{mode}" (expected oneshot, sliced, or bucket)'
        )
    thr = opts["threshold"]
    spark = _get_spark()
    vecs = spark.read.parquet(opts["vectors"])
    if mode != "oneshot":
        if "out" not in opts:
            raise UsageError(f'mode "{mode}" requires "--out"')
        if mode == "sliced":
            slices = opts["slices"]
            pairs = srp_store_pairs_bounded(
                spark, store, vecs, opts["out"], threshold=thr, slices=slices
            )
            shape = "sliced verify, %d slices" % slices
        else:
            pairs = srp_store_pairs_bucket_verify(
                spark, store, vecs, opts["out"], threshold=thr
            )
            shape = "bucket-local verify"
        n = pairs.count()
        out.write(
            "%d semantic near-duplicate pairs (cosine >= %g) at %s (%s)\n"
            % (n, thr, opts["out"], shape)
        )
        return
    pairs = srp_store_pairs(spark, store, vecs, threshold=thr)
    if "out" in opts:
        pairs.write.mode("overwrite").parquet(opts["out"])
        n = spark.read.parquet(opts["out"]).count()
        out.write(
            "%d semantic near-duplicate pairs (cosine >= %g) at %s\n"
            % (n, thr, opts["out"])
        )
        return
    rows = pairs.orderBy("id_a", "id_b").collect()  # presentation-layer
    _print_pair_rows(out, rows, "cosine")
    out.write(
        "%d semantic near-duplicate pairs (cosine >= %g)\n"
        % (len(rows), thr)
    )


def cmd_store_compact(kind: str, what: str, args, opts, cat: Catalog, out):
    """dn fp-compact|band-compact|srp-compact|vindex-compact <path>:
    compact one store with the function dn maintain runs for its kind
    (index/maintain._COMPACT) — answer-preserving and lease-serialized
    against appenders. fp collapses each fingerprint to its minimum
    doc_id, one file per bucket; band and SRP keep distinct key rows
    (SRP: band and band-pair keys), one file per band or slice; the
    vector index rewrites each cell to one file, assignments and
    centroids untouched."""
    from dragnet_spark.index.maintain import _COMPACT

    (path,) = args
    _COMPACT[kind](_get_spark(), path)
    out.write("compacted %s at %s\n" % (what, path))


for _kind, _what in (
    ("fp", "fingerprint store"), ("band", "band store"),
    ("srp", "SRP store"), ("vindex", "vector index"),
):
    verb(f"{_kind}-compact", 1)(
        functools.partial(cmd_store_compact, _kind, _what)
    )


@verb("vindex-stats", 1)
def cmd_vindex_stats(args, opts, cat: Catalog, out):
    """dn vindex-stats <index-path>: cell-population stats and the
    recenter recommendation — the operational readout behind the
    documented ~4x max/mean skew trigger."""
    from dragnet_spark.index.vector import vector_index_health

    (idx,) = args
    h = vector_index_health(_get_spark(), idx)
    meta = h["meta"]
    out.write(
        "%d vectors in %d/%d cells%s; max/mean skew %.2f\n"
        % (
            h["rows"],
            len(h["cells"]),
            meta["n_centroids"],
            " (int8)" if meta.get("quantized") else "",
            h["skew"],
        )
    )
    for cell, n in h["cells"]:
        out.write("    cell=%-4d %d\n" % (cell, n))
    if h["recenter"]:
        out.write(
            "recommendation: recenter (dn vindex-recenter) — %s\n"
            % h["recenter"]
        )
    else:
        out.write("recommendation: healthy; no recenter needed\n")


@verb("vindex-ingest", 1, {
    "stream-dir": (str, REQUIRED), "checkpoint": (str, REQUIRED),
    "no-recenter": (FLAG, False),
})
def cmd_vindex_ingest(args, opts, cat: Catalog, out):
    """dn vindex-ingest <index-path> --stream-dir=DIR
    --checkpoint=CKPT [--no-recenter]: drain all pending parquet
    files from DIR into the index via the streaming ingest loop
    (availableNow trigger — process everything, then exit), with the
    batch-id ledger deduplicating replays and the ~4x skew trigger
    checked at startup. Run it from cron for incremental ingest — the
    reference's rebuild-the-affected-interval discipline, as a
    drain-and-exit job."""
    from dragnet_spark.index.vector import (
        load_vector_index_meta,
        vector_index_health,
    )
    from dragnet_spark.streaming.pipeline import (
        stream_ingest_vector_index,
    )

    (idx,) = args
    spark = _get_spark()
    meta = load_vector_index_meta(idx)
    # stream schema comes from the types persisted at build time (a
    # string-id index must not be scanned as bigint); pre-1.1 indexes
    # without persisted types fall back to the historical defaults
    id_type = meta.get("id_type", "long")
    vec_type = meta.get("vec_type", "array<double>")
    sdf = (
        spark.readStream.schema(
            f"`{meta['id_col']}` {id_type}, `{meta['vec_col']}` {vec_type}"
        )
        .parquet(opts["stream_dir"])
    )
    q = stream_ingest_vector_index(
        sdf,
        idx,
        opts["checkpoint"],
        recenter_trigger=None if opts["no_recenter"] else 4.0,
        trigger_available_now=True,
    )
    q.awaitTermination()
    h = vector_index_health(spark, idx)
    out.write(
        "drained pending batches into %s; cell skew %.2f%s\n"
        % (
            idx,
            h["skew"],
            " (over the recenter trigger — next run recenters)"
            if h["recenter"]
            else "",
        )
    )


@verb("vindex-recenter", 1, {"centroids": (int, None)})
def cmd_vindex_recenter(args, opts, cat: Catalog, out):
    """dn vindex-recenter <index-path> [--centroids=N]: retrain
    centroids on the current store contents and rebuild in place —
    the recenter action for a drift-skewed index."""
    from dragnet_spark.index.vector import recenter_vector_index

    (idx,) = args
    meta = recenter_vector_index(
        _get_spark(), idx, n_centroids=opts.get("centroids")
    )
    out.write(
        "recentered vector index: %d cells at %s\n"
        % (meta["n_centroids"], idx)
    )


@verb("sink-compact", 1, {
    "min-batches": (int, 2), "keep-last": (int, 0), "order-by": (str, None),
})
def cmd_sink_compact(args, opts, cat: Catalog, out):
    """dn sink-compact <sink-path> [--min-batches=2] [--keep-last=0]
    [--order-by=COL]: fold the curated sink's committed-and-ledgered
    ``__dn_batch`` directories into a consolidated base segment
    (negative batch id; readers keep working). Only provably-folded
    batches move; the swap holds the governing store's lease, so it
    is safe against a live ingest stream. --order-by clusters the
    segment on a column so parquet min/max stats prune probes
    (streaming/sink.py)."""
    from dragnet_spark.streaming.sink import compact_sink

    (sink,) = args
    report = compact_sink(
        _get_spark(),
        sink,
        min_batches=opts["min_batches"],
        keep_last=opts["keep_last"],
        order_by=opts.get("order_by"),
    )
    if report["segment"]:
        out.write(
            "folded %d batch dirs into %s at %s\n"
            % (len(report["folded"]), report["segment"], sink)
        )
    else:
        out.write("nothing to fold at %s\n" % sink)
    if report["skipped_unledgered"]:
        out.write(
            "skipped %d unledgered dirs (replay sources): %s\n"
            % (
                len(report["skipped_unledgered"]),
                ",".join(report["skipped_unledgered"]),
            )
        )


@verb("lm-build", 1, {
    "out": (str, REQUIRED), "text-field": (str, "text"),
    "min-count": (int, 2), "lam-pct": (int, 80),
})
def cmd_lm_build(args, opts, cat: Catalog, out):
    """dn lm-build <docs.parquet> --out=PATH [--text-field=text]
    [--min-count=2] [--lam-pct=80]: freeze the reference corpus's
    interpolated bigram-LM counts into an LM store (index/lm.py) for
    ingest gating — the judged data must never shift the judge."""
    from dragnet_spark.index.lm import build_lm_store

    (src,) = args
    spark = _get_spark()
    meta = build_lm_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        min_count=opts["min_count"],
        lam_pct=opts["lam_pct"],
    )
    out.write(
        "built LM store at %s: %d tokens, %d vocab, bigrams c2>=%d\n"
        % (opts["out"], meta["total_tokens"], meta["vocab_size"],
           meta["min_count"])
    )


@verb("lm-score", 1, {
    "docs": (str, REQUIRED), "id-field": (str, "doc_id"),
    "text-field": (str, "text"), "min-mean-logp": (float, None),
})
def cmd_lm_score(args, opts, cat: Catalog, out):
    """dn lm-score <lm-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--min-mean-logp=X]: score (or, with the
    threshold, gate) a batch under the frozen reference LM; prints
    per-doc NDJSON and a summary line."""
    import json as _json

    from dragnet_spark.index.lm import lm_gate, score_against_lm_store

    (lm,) = args
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc, txt = opts["id_field"], opts["text_field"]
    if "min_mean_logp" in opts:
        kept = lm_gate(
            spark, lm, docs, opts["min_mean_logp"],
            text_col=txt, id_col=idc,
        )
        n_in, n_out = docs.count(), kept.count()
        for r in kept.select(idc).collect():
            out.write(_json.dumps({idc: r[idc]}) + "\n")
        out.write("kept %d of %d docs\n" % (n_out, n_in))
        return
    rows = score_against_lm_store(
        spark, lm, docs, text_col=txt, id_col=idc
    ).collect()
    for r in rows:
        out.write(_json.dumps(r.asDict()) + "\n")
    out.write("scored %d docs\n" % len(rows))


@verb("bloom-build", 1, {
    "out": (str, REQUIRED), "text-field": (str, "text"), "gram-n": (int, 8),
    "m-bits": (int, 1 << 20), "k": (int, 5), "src-field": (str, None),
})
def cmd_bloom_build(args, opts, cat: Catalog, out):
    """dn bloom-build <bench.parquet> --out=PATH [--text-field=text]
    [--gram-n=8] [--m-bits=1048576] [--k=5] [--src-field=COL]: freeze
    the benchmark corpus's distinct gram hashes into a Bloom store
    (index/bloom.py) for ingest decontamination — bitset broadcast
    screens every arriving gram, only candidates touch the exact
    gram table. With --src-field the gram table carries which
    benchmark each gram belongs to (enables bloom-gate --attribute)."""
    from dragnet_spark.index.bloom import build_bloom_store

    (src,) = args
    spark = _get_spark()
    meta = build_bloom_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        gram_n=opts["gram_n"],
        m_bits=opts["m_bits"],
        k=opts["k"],
        src_col=opts.get("src_field"),
    )
    out.write(
        "built bloom store at %s: %d grams (n=%d), m=%d bits, k=%d%s\n"
        % (opts["out"], meta["n_grams"], meta["gram_n"], meta["m_bits"],
           meta["k"],
           ", with src attribution" if meta["src_attribution"] else "")
    )


@verb("bloom-gate", 1, {
    "docs": (str, REQUIRED), "id-field": (str, "doc_id"),
    "text-field": (str, "text"), "max-hit-frac": (float, None),
    "attribute": (FLAG, False),
})
def cmd_bloom_gate(args, opts, cat: Catalog, out):
    """dn bloom-gate <store-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--max-hit-frac=X] [--attribute]: score a
    batch against the frozen benchmark gram store; with
    --max-hit-frac, print the kept doc ids (the gate); with
    --attribute, print per-(doc, benchmark) leak tallies (requires a
    store built with --src-field); else per-doc NDJSON overlap
    reports."""
    import json as _json

    from dragnet_spark.index.bloom import (
        attribute_against_bloom_store,
        decontam_gate,
        score_against_bloom_store,
    )

    (store,) = args
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc, txt = opts["id_field"], opts["text_field"]
    if opts["attribute"]:
        rows = attribute_against_bloom_store(
            spark, store, docs, text_col=txt, id_col=idc
        ).collect()
        for r in rows:
            out.write(_json.dumps(r.asDict()) + "\n")
        out.write("attributed %d (doc, benchmark) leaks\n" % len(rows))
        return
    if "max_hit_frac" in opts:
        kept = decontam_gate(
            spark, store, docs, opts["max_hit_frac"],
            text_col=txt, id_col=idc,
        )
        n_in, n_out = docs.count(), kept.count()
        for r in kept.select(idc).collect():
            out.write(_json.dumps({idc: r[idc]}) + "\n")
        out.write("kept %d of %d docs\n" % (n_out, n_in))
        return
    rows = score_against_bloom_store(
        spark, store, docs, text_col=txt, id_col=idc
    ).collect()
    for r in rows:
        out.write(_json.dumps(r.asDict()) + "\n")
    out.write("scored %d docs\n" % len(rows))


@verb("profile", 1, {"format": (str, "parquet")})
def cmd_profile(args, opts, cat: Catalog, out):
    """dn profile <path> [--format=parquet]: one-scan per-column
    profile of a table — null counts, exact distincts, numeric/time
    ranges (epoch micros), string ranges. Single pass regardless of
    column count (ops/profile.py); the collect is one row per column."""
    from dragnet_spark.ops.profile import profile_table

    (path,) = args
    df = _get_spark().read.format(opts["format"]).load(path)
    rows = profile_table(df).collect()
    out.write(
        "%-16s %12s %10s %10s %22s %22s\n"
        % ("COLUMN", "ROWS", "NULLS", "DISTINCT", "MIN", "MAX")
    )
    for r in rows:
        mn = r["min_num"] if r["min_num"] is not None else r["min_str"]
        mx = r["max_num"] if r["max_num"] is not None else r["max_str"]
        out.write(
            "%-16s %12d %10d %10d %22s %22s\n"
            % (
                r["col_name"], r["n_rows"], r["n_nulls"], r["n_distinct"],
                "" if mn is None else str(mn)[:22],
                "" if mx is None else str(mx)[:22],
            )
        )


@verb("maintain", 1, {"dry-run": (FLAG, False), "max-files": (int, 4)})
def cmd_maintain(args, opts, cat: Catalog, out):
    """dn maintain <root> [--dry-run] [--max-files=4]: discover every
    dragnet store under <root> (event index, fingerprint/band/SRP
    stores, vector index, curated streaming sink — classified by
    marker file), read its health signals (max files per partition;
    vindex cell skew + growth policy; sink batch-dir count), and run
    the lease-guarded maintenance each needs: compact past
    --max-files, recenter a drifted or outgrown vector index, fold an
    outgrown sink's batch dirs. --dry-run plans without touching
    anything. Cron-able: the scheduled maintenance job for a fleet of
    continuously-appended stores (index/maintain.py)."""
    from dragnet_spark.index.maintain import run_maintenance

    (root,) = args
    plan = run_maintenance(
        _get_spark(),
        root,
        dry_run=opts["dry_run"],
        max_files=opts["max_files"],
    )
    for rec in plan:
        sig = "max_files/part=%d" % rec["max_files_per_partition"]
        if rec["kind"] == "bloom":
            sig += ", fill=%.3f est_fpp=%.2e" % (
                rec["bloom_fill"], rec["bloom_est_fpp"]
            )
        if rec["kind"] == "vindex":
            sig += ", skew=%.2f" % rec["skew"]
            if rec.get("target_rows_per_cell") is not None:
                sig += ", mean/cell=%.0f target=%d" % (
                    rec["mean_rows_per_cell"],
                    rec["target_rows_per_cell"],
                )
        done = "would run" if opts["dry_run"] else "ran"
        what = ",".join(rec["actions"]) if rec["actions"] else "nothing"
        line = "%-7s %s (%s): %s %s" % (
            rec["kind"], rec["path"], sig, done, what
        )
        if rec.get("advisories"):
            line += " [ADVISORY %s]" % ",".join(rec["advisories"])
        if rec.get("error"):
            line += " [ERROR %s]" % rec["error"]
        out.write(line + "\n")
    out.write(
        "%d stores, %d with pending work\n"
        % (len(plan), sum(1 for r in plan if r["actions"]))
    )


@verb("semdedup", 1, {
    "k": (int, 8), "target-rows": (int, None), "iterations": (int, 3),
    "threshold": (float, 0.9), "id-col": (str, "vec_id"),
    "vec-col": (str, "embedding"), "format": (str, "parquet"),
    "out": (str, None), "two-level": (FLAG, False),
})
def cmd_semdedup(args, opts, cat: Catalog, out):
    """dn semdedup <vectors> [--k=8 | --target-rows=N] [--iterations=3]
    [--threshold=0.9] [--id-col=vec_id] [--vec-col=embedding]
    [--format=parquet] [--out=PATH]: SemDeDup semantic dedup — exact
    fixed-point k-means over the embedding column, then near-dup
    pair search restricted to cluster mates (ops/kmeans.py).
    --target-rows picks k automatically as ceil(n/target) — the
    paper's k ∝ n regime, keeping cluster size (and the pair stage)
    bounded as the corpus grows; prefer it over --k for any corpus
    whose size you don't control. It SELF-SIZES the assignment too
    (ops/kmeans.kmeans_assign_auto): flat Lloyd below k=1024, the
    hierarchical two-level form above it — the n·√k posture past
    ~10⁶ vectors that retired the 1000×-tier assignment wall.
    --two-level forces the hierarchical form at any size (uses
    --target-rows, default 250). Prints cluster sizes and the
    pairs found; --out writes the SURVIVOR ids (corpus minus every
    dropped_id) as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import (
        kmeans_assign,
        kmeans_assign_auto,
        kmeans_assign_two_level,
        semdedup_prune_pairs,
    )

    (path,) = args
    target = opts.get("target_rows")
    iters, thr = opts["iterations"], opts["threshold"]
    id_col, vec_col = opts["id_col"], opts["vec_col"]
    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(path)
    if opts["two_level"]:
        assign = kmeans_assign_two_level(
            df, vec_col=vec_col, id_col=id_col, iterations=iters,
            target_rows_per_cluster=250 if target is None else target,
        )
    elif target is not None:
        # self-sizing: flat below k=1024 (lower constants), two-level
        # above (n·√k) — the graded routing boundary (TWO_LEVEL_MIN_K)
        assign = kmeans_assign_auto(
            df, vec_col=vec_col, id_col=id_col, iterations=iters,
            target_rows_per_cluster=target,
        )
    else:
        assign = kmeans_assign(
            df, vec_col=vec_col, id_col=id_col, k=opts["k"],
            iterations=iters,
        )
    sizes = sorted(
        (r["cluster"], r["n"])
        for r in assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    out.write(
        "k-means: %d vectors -> %d clusters (sizes %s)\n"
        % (sum(n for _, n in sizes), len(sizes), ",".join(str(n) for _, n in sizes))
    )
    pairs = semdedup_prune_pairs(
        df, assign, vec_col=vec_col, id_col=id_col, threshold=thr
    )
    dropped = pairs.select(F.col("dropped_id").alias("id")).distinct()
    n_pairs = pairs.count()
    n_drop = dropped.count()
    out.write(
        "semdedup: %d within-cluster pairs >= %.2f, %d docs dropped\n"
        % (n_pairs, thr, n_drop)
    )
    if opts.get("out"):
        survivors = (
            df.select(F.col(id_col).cast("long").alias("id"))
            .join(dropped, "id", "left_anti")
            .select(F.col("id").alias(id_col))
        )
        survivors.write.mode("error").parquet(opts["out"])
        out.write("survivors -> %s\n" % opts["out"])


# the pair-table options of graph and the components store verbs
_PAIR_OPTS = {
    "id-a": (str, "id_a"), "id-b": (str, "id_b"), "format": (str, "parquet"),
}


@verb("graph", 1, {
    "op": (str, None), "seeds": (str, None), "iterations": (int, 4),
    "out": (str, None), "top": (int, 20), **_PAIR_OPTS,
})
def cmd_graph(args, opts, cat: Catalog, out):
    """dn graph <pairs> --op=pagerank|trustrank|triangles|clustering|components
    [--seeds=PATH] [--iterations=4] [--id-a=id_a] [--id-b=id_b]
    [--format=parquet] [--out=PATH] [--top=20]: graph analytics over a
    precomputed undirected pair table (any dedup op's (id_a, id_b)
    output). trustrank requires --seeds (a parquet of ids in the
    pair table's id space — a labeled trusted/spam list). Prints the
    top rows by score; --out writes the full result as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.graph import (
        clustering_coefficients,
        connected_components,
        pagerank,
        personalized_pagerank,
        triangle_counts,
    )

    (path,) = args
    op = opts.get("op")
    if op not in ("pagerank", "trustrank", "triangles", "clustering",
                  "components"):
        raise UsageError(
            "--op must be pagerank|trustrank|triangles|clustering|components"
        )
    ia, ib = opts["id_a"], opts["id_b"]
    iters = opts["iterations"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(path)
    nodes = (
        pairs.select(F.col(ia).alias("id"))
        .unionByName(pairs.select(F.col(ib).alias("id")))
        .distinct()
    )
    if op == "pagerank":
        res = pagerank(nodes, pairs, src_col=ia, dst_col=ib,
                       iterations=iters)
        score = "pagerank"
    elif op == "trustrank":
        if not opts.get("seeds"):
            raise UsageError("--op=trustrank requires --seeds=PATH")
        seeds = spark.read.parquet(opts["seeds"])
        seeds = seeds.select(F.col(seeds.columns[0]).alias("id"))
        res = personalized_pagerank(nodes, pairs, seeds, src_col=ia,
                                    dst_col=ib, iterations=iters)
        score = "trustrank"
    elif op == "triangles":
        res = triangle_counts(pairs, ia, ib, include_zero_nodes=True)
        score = "n_triangles"
    elif op == "clustering":
        res = clustering_coefficients(pairs, ia, ib)
        score = "clustering"
    else:
        res = connected_components(nodes, pairs, src_col=ia, dst_col=ib)
        score = "component"
    rows = res.orderBy(F.desc(score), "id").limit(opts["top"]).collect()
    cols = res.columns
    out.write("  ".join(cols) + "\n")
    for r in rows:
        out.write("  ".join(str(r[c]) for c in cols) + "\n")
    if opts.get("out"):
        res.write.mode("error").parquet(opts["out"])
        out.write("%s -> %s\n" % (op, opts["out"]))


@verb("distinct", 1, {
    "col": (str, REQUIRED), "group-by": (str, None), "k": (int, 256),
    "exact": (FLAG, False), "format": (str, "parquet"),
})
def cmd_distinct(args, opts, cat: Catalog, out):
    """dn distinct <path> --col=C [--group-by=G] [--k=256] [--exact]
    [--format=parquet]: KMV bottom-k estimate of COUNT(DISTINCT C),
    optionally per group (ops/sketch.py — deterministic md5 order
    statistics, exact below k distinct values). --exact adds the true
    count next to the estimate (full distinct shuffle — the cost the
    sketch exists to avoid)."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.sketch import kmv_distinct

    (path,) = args
    col, grp = opts["col"], opts.get("group_by")
    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(path)
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    est = kmv_distinct(df, col, gcols, k=opts["k"])
    if opts["exact"]:
        exact = df.groupBy(*gcols).agg(
            F.countDistinct(col).alias("exact_distinct")
        )
        est = est.join(exact, gcols)
    rows = est.orderBy(gcols[0]).collect()
    hdr = "%-24s %14s" % (grp or "group", "est_distinct")
    if opts["exact"]:
        hdr += " %14s" % "exact_distinct"
    out.write(hdr + "\n")
    for r in rows:
        line = "%-24s %14d" % (r[gcols[0]], r["est_distinct"])
        if opts["exact"]:
            line += " %14d" % r["exact_distinct"]
        out.write(line + "\n")


@verb("media-probe", 1, {"glob": (str, None), "verbose": (FLAG, False)})
def cmd_media_probe(args, opts, cat: Catalog, out):
    """dn media-probe <dir> [--glob=*.png] [--verbose]: ingest a
    media directory via the binaryFile source (sources/media.py) and
    run the header-only metadata probe — detected format, dimensions,
    duration, and the declared-vs-detected mismatch flag. Prints a
    per-format rollup; --verbose lists every mismatched file."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.multimodal import probe_media_metadata
    from dragnet_spark.sources.media import read_media_dir

    (path,) = args
    spark = _get_spark()
    media = read_media_dir(spark, path, glob=opts.get("glob"))
    probed = probe_media_metadata(
        media.select("id", "media_type", "payload")
    ).join(media.select("id", "path"), "id")
    roll = (
        probed.groupBy("detected_format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("bytes"),
            F.sum("type_mismatch").alias("mismatched"),
        )
        .orderBy("detected_format")
        .collect()
    )
    out.write("%-12s %8s %14s %10s\n" % ("FORMAT", "FILES", "BYTES", "MISMATCH"))
    for r in roll:
        out.write(
            "%-12s %8d %14d %10d\n"
            % (r["detected_format"], r["n"], r["bytes"], r["mismatched"])
        )
    if opts["verbose"]:
        for r in probed.filter(F.col("type_mismatch") == 1).orderBy("path").collect():
            out.write(
                "MISMATCH %s declared=%s detected=%s\n"
                % (r["path"], r["declared_type"], r["detected_format"])
            )


def _kmv_print_estimates(spark, store, out):
    from dragnet_spark.index.kmv import kmv_store_estimate, load_kmv_meta

    meta = load_kmv_meta(store)
    g = meta["group_cols"]
    rows = kmv_store_estimate(spark, store).orderBy(*g).collect()
    out.write("%-24s %14s\n" % (",".join(g), "est_distinct"))
    for r in rows:
        key = ",".join(str(r[c]) for c in g)
        out.write("%-24s %14d\n" % (key, r["est_distinct"]))


@verb("comp-build", 1, {"out": (str, REQUIRED), "ids": (str, None), **_PAIR_OPTS})
def cmd_comp_build(args, opts, cat: Catalog, out):
    """dn comp-build <pairs> --out=STORE [--ids=PATH] [--id-a=id_a]
    [--id-b=id_b] [--format=parquet]: materialize an incremental
    connected-components store (index/components.py) from an
    undirected pair table — the dedup-cluster assignment a live
    pipeline maintains with dn comp-merge instead of recomputing the
    graph per batch. --ids supplies the full node set (parquet, first
    column); default is the pair endpoints."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import build_components_store

    (path,) = args
    ia, ib = opts["id_a"], opts["id_b"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(path)
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    if opts.get("ids"):
        ids = spark.read.parquet(opts["ids"])
        ids = ids.select(F.col(ids.columns[0]).alias("id"))
    else:
        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
    build_components_store(spark, ids, pairs, opts["out"])
    out.write("built components store at %s\n" % opts["out"])


@verb("comp-merge", 1, {"data": (str, REQUIRED), **_PAIR_OPTS})
def cmd_comp_merge(args, opts, cat: Catalog, out):
    """dn comp-merge <store> --data=PAIRS [--id-a=id_a] [--id-b=id_b]
    [--format=parquet]: fold one arriving batch of pairs into the
    store — work proportional to the batch (endpoint resolve +
    quotient-graph closure), never a full-corpus recompute."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import merge_components_batch

    (store,) = args
    ia, ib = opts["id_a"], opts["id_b"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(opts["data"])
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    merge_components_batch(spark, pairs, store)
    out.write("folded %s into %s\n" % (opts["data"], store))


@verb("comp-read", 1, {"out": (str, None), "top": (int, 20)})
def cmd_comp_read(args, opts, cat: Catalog, out):
    """dn comp-read <store> [--out=PATH] [--top=20]: current (id,
    component) assignment with redirects applied; --out writes the
    full table as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import components_store_read

    (store,) = args
    spark = _get_spark()
    res = components_store_read(spark, store)
    for r in res.orderBy("component", "id").limit(opts["top"]).collect():
        out.write("%d  %d\n" % (r["id"], r["component"]))
    if opts.get("out"):
        res.write.mode("error").parquet(opts["out"])
        out.write("assignment -> %s\n" % opts["out"])


@verb("kmv-build", 1, {
    "col": (str, REQUIRED), "group-by": (str, None), "k": (int, 256),
    "out": (str, REQUIRED), "format": (str, "parquet"),
})
def cmd_kmv_build(args, opts, cat: Catalog, out):
    """dn kmv-build <data> --col=C --out=STORE [--group-by=G]
    [--k=256] [--format=parquet]: materialize a bottom-k KMV
    cardinality sketch (index/kmv.py) — O(groups·k) state a live
    pipeline folds every batch into with dn kmv-merge."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import build_kmv_store

    (path,) = args
    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(path)
    grp = opts.get("group_by")
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    build_kmv_store(spark, df, opts["out"], opts["col"], gcols, k=opts["k"])
    out.write("built KMV sketch (k=%s) at %s\n" % (opts["k"], opts["out"]))
    _kmv_print_estimates(spark, opts["out"], out)


@verb("kmv-merge", 1, {"data": (str, REQUIRED), "format": (str, "parquet")})
def cmd_kmv_merge(args, opts, cat: Catalog, out):
    """dn kmv-merge <store> --data=BATCH [--format=parquet]: fold one
    arriving batch into the sketch (lease-guarded stage-then-swap;
    bit-identical to rebuilding over everything ingested so far)."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import load_kmv_meta, merge_kmv_batch

    (store,) = args
    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(opts["data"])
    if load_kmv_meta(store)["group_cols"] == ["__g"]:
        df = df.withColumn("__g", F.lit("all"))
    merge_kmv_batch(spark, df, store)
    out.write("merged %s into %s\n" % (opts["data"], store))
    _kmv_print_estimates(spark, store, out)


@verb("kmv-est", 1)
def cmd_kmv_est(args, opts, cat: Catalog, out):
    """dn kmv-est <store>: print the per-group distinct estimates the
    persisted sketch implies — no corpus scan."""
    (store,) = args
    _kmv_print_estimates(_get_spark(), store, out)


def main(argv: list[str] | None = None, out=None, config_path: str | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    out = out or sys.stdout
    if not argv:
        sys.stderr.write(USAGE + "\n")
        return 2
    cmdname, rest = argv[0], argv[1:]
    if cmdname not in COMMANDS:
        sys.stderr.write('%s: unknown command: "%s"\n' % (ARG0, cmdname))
        sys.stderr.write(USAGE + "\n")
        return 2
    v = COMMANDS[cmdname]
    cat = Catalog.load(config_path or default_config_path())
    try:
        args, opts = _parse_args(rest, v.nargs, v.options)
        v.run(args, opts, cat, out)
        return 0
    except UsageError as e:
        sys.stderr.write("%s: %s\n" % (ARG0, e))
        sys.stderr.write(USAGE + "\n")
        return 2
    except (
        QueryError,
        FieldSpecError,
        KrillError,
        ConfigError,
        FatalError,
        ContractError,
    ) as e:
        sys.stderr.write("%s: %s\n" % (ARG0, e))
        return 1


if __name__ == "__main__":
    sys.exit(main())
