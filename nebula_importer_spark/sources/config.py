"""YAML config front-end: the reference's user surface → engine specs.

The reference importer is driven entirely by a YAML file
(``/root/reference/pkg/config/v3/config.go:17-23``: ``client`` / ``manager``
/ ``sources`` / ``log``; examples in ``examples/basic/
basic.string.insert.v3.yaml`` and every integration test). This module loads
that exact format into this engine's vocabulary:

* each ``sources[i].tags``  entry → :class:`plans.specs.NodeSpec`
  (``pkg/spec/v3/node.go:15-33``),
* each ``sources[i].edges`` entry → :class:`plans.specs.EdgeSpec`
  (``edge.go:14-44``; ``src``/``dst`` wrap a NodeID under ``id`` —
  ``edge.go:36-39``),
* source locations (``path`` shorthand or ``local``/``s3``/``oss``/``ftp``/
  ``sftp``/``hdfs``/``gcs`` blocks, ``pkg/source/config.go:4-15``) →
  Hadoop-FS URIs for ``spark.read``; ``sql`` → JDBC options
  (sources/jdbc.py),
* ``manager.hooks.before/after`` statements (``pkg/manager/hooks.go:10-21``)
  → the pipeline's before/after hook lists,
* ``client`` (connection pool/retry) and ``log`` are intentionally ignored:
  the Spark runtime owns scheduling, retries, and logging (COVERAGE.md §2.5).

Nothing here executes I/O except :func:`read_source_accounted`; loading is
pure parsing, so configs validate fast and driver-side.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import List, Optional

import yaml

from pyspark.sql import SparkSession

from nebula_importer_spark.plans.specs import (
    EdgeSpec,
    NodeIDSpec,
    NodeSpec,
    PropSpec,
    RankSpec,
)


class ConfigError(ValueError):
    pass


class _StrLoader(yaml.SafeLoader):
    """SafeLoader without implicit timestamp resolution.

    The reference's config model is stringly-typed (Go yaml → string
    fields), and its own fixtures contain values like
    ``0000-00-00T00:00:00`` that are not valid datetimes — they must load
    as plain strings, exactly as Go does.
    """


# rebind a FRESH dict on the subclass: PyYAML stores yaml_implicit_resolvers
# on the shared Resolver base, so item-assigning into the inherited mapping
# would strip timestamp resolution from yaml.SafeLoader process-wide
_StrLoader.yaml_implicit_resolvers = {
    ch: [(t, r) for t, r in resolvers if t != "tag:yaml.org,2002:timestamp"]
    for ch, resolvers in yaml.SafeLoader.yaml_implicit_resolvers.items()
}


@dataclass
class CSVOptions:
    """``sources[i].csv`` (``pkg/source/config.go:17-22``)."""

    delimiter: str = ","
    comment: str = ""
    with_header: bool = False
    lazy_quotes: bool = False


@dataclass
class SourceConfig:
    """One ``sources[i]`` entry: location + format + mapping specs."""

    path: str
    kind: str = "local"  # local/s3/oss/ftp/sftp/hdfs/gcs/sql
    batch: Optional[int] = None
    csv: CSVOptions = field(default_factory=CSVOptions)
    nodes: List[NodeSpec] = field(default_factory=list)
    edges: List[EdgeSpec] = field(default_factory=list)
    sql: Optional[dict] = None  # raw SQL-source options (sources/jdbc.py)


@dataclass
class ImporterConfig:
    """The whole YAML file, minus the parts Spark subsumes."""

    space: str = ""
    batch: int = 128
    sources: List[SourceConfig] = field(default_factory=list)
    before_hooks: List[str] = field(default_factory=list)
    after_hooks: List[str] = field(default_factory=list)
    stats_interval_sec: Optional[float] = None

    def validate(self) -> None:
        for s in self.sources:
            if not (s.nodes or s.edges):
                # nothing would scan it: its rows would go unread, uncounted
                raise ConfigError(f"source {s.path or 'sql'!r} has no tags or edges")
            for spec in (*s.nodes, *s.edges):
                spec.complete()
                spec.validate()


_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)(ms|s|m|h)$")
_DURATION_UNIT = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_sec(v) -> Optional[float]:
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    m = _DURATION_RE.match(str(v).strip())
    if not m:
        raise ConfigError(f"bad duration {v!r}")
    return float(m.group(1)) * _DURATION_UNIT[m.group(2)]


def _prop(d: dict) -> PropSpec:
    return PropSpec(
        name=str(d.get("name", "")),
        type=str(d.get("type", "") or "STRING"),
        index=int(d.get("index", 0)),
        nullable=bool(d.get("nullable", False)),
        null_value=str(d.get("nullValue", "") or ""),
        alternative_indices=[int(i) for i in d.get("alternativeIndices", []) or []],
        default_value=(
            None if d.get("defaultValue") is None else str(d["defaultValue"])
        ),
        expr=d.get("expr"),
    )


def _node_id(d: dict) -> NodeIDSpec:
    # concatItems entries: int → record index, str → constant (nodeid.go:20)
    items = d.get("concatItems", []) or []
    return NodeIDSpec(
        type=str(d.get("type", "") or "STRING"),
        index=int(d.get("index", 0)),
        concat_items=[i if isinstance(i, int) else str(i) for i in items],
        function=d.get("function"),
    )


def _filter_expr(d: dict) -> Optional[str]:
    f = d.get("filter")
    if not f:
        return None
    return f.get("expr") if isinstance(f, dict) else str(f)


def _node(d: dict) -> NodeSpec:
    if "id" not in d:
        raise ConfigError(f"tag {d.get('name')!r} missing id")
    return NodeSpec(
        name=str(d.get("name", "")),
        id=_node_id(d["id"]),
        props=[_prop(p) for p in d.get("props", []) or []],
        ignore_existed_index=d.get("ignoreExistedIndex"),
        ignore_existed_record=d.get("ignoreExistedRecord"),
        filter=_filter_expr(d),
        mode=d.get("mode") or "INSERT",
    )


def _edge(d: dict) -> EdgeSpec:
    for endpoint in ("src", "dst"):
        if endpoint not in d or "id" not in (d[endpoint] or {}):
            raise ConfigError(f"edge {d.get('name')!r} missing {endpoint}.id")
    rank = d.get("rank")
    return EdgeSpec(
        name=str(d.get("name", "")),
        src=_node_id(d["src"]["id"]),
        dst=_node_id(d["dst"]["id"]),
        rank=None if rank is None else RankSpec(index=int(rank.get("index", 0))),
        props=[_prop(p) for p in d.get("props", []) or []],
        ignore_existed_index=d.get("ignoreExistedIndex"),
        ignore_existed_record=d.get("ignoreExistedRecord"),
        filter=_filter_expr(d),
        mode=d.get("mode") or "INSERT",
    )


def _source_location(d: dict) -> tuple[str, str, Optional[dict]]:
    """Resolve a source entry to (kind, URI-or-path, sql_options).

    The bare ``path`` shorthand (used throughout the reference examples) is
    a local file; scheme blocks map onto the Hadoop FS URI ``spark.read``
    dispatches on (S1–S8), so every location kind shares one read path.
    """
    if d.get("sql"):
        return "sql", "", dict(d["sql"])
    if d.get("path") is not None:
        return "local", str(d["path"]), None
    if d.get("local"):
        return "local", str(d["local"].get("path", "")), None
    for kind, fmt in (
        ("s3", "s3a://{bucket}/{key}"),
        ("oss", "oss://{bucket}/{key}"),
        ("gcs", "gs://{bucket}/{key}"),
    ):
        if d.get(kind):
            b = d[kind]
            return kind, fmt.format(bucket=b.get("bucket", ""), key=b.get("key", "")), None
    if d.get("hdfs"):
        b = d["hdfs"]
        return "hdfs", f"hdfs://{b.get('address', '')}{b.get('path', '')}", None
    for kind in ("ftp", "sftp"):
        if d.get(kind):
            b = d[kind]
            return kind, f"{kind}://{b.get('host', '')}{b.get('path', '')}", None
    raise ConfigError(f"source entry has no recognizable location: {sorted(d)}")


def _csv(d: dict) -> CSVOptions:
    c = d.get("csv") or {}
    return CSVOptions(
        delimiter=str(c.get("delimiter", ",") or ","),
        comment=str(c.get("comment", "") or ""),
        with_header=bool(c.get("withHeader", False)),
        lazy_quotes=bool(c.get("lazyQuotes", False)),
    )


def _hook_statements(hooks: dict, phase: str) -> List[str]:
    out: List[str] = []
    for h in (hooks or {}).get(phase, []) or []:
        out.extend(str(s) for s in h.get("statements", []) or [])
    return out


def load_config(path_or_text: str) -> ImporterConfig:
    """Parse a reference-format YAML config (file path or YAML text)."""
    if "\n" not in path_or_text and os.path.exists(path_or_text):
        with open(path_or_text) as f:
            raw = yaml.load(f, Loader=_StrLoader)
    else:
        raw = yaml.load(path_or_text, Loader=_StrLoader)
        if "\n" not in path_or_text and not isinstance(raw, (dict, list)):
            # a bare scalar on one line is a path, not a config
            raise ConfigError(f"config file not found: {path_or_text}")
    if not isinstance(raw, dict):
        raise ConfigError("config root must be a mapping")

    manager = raw.get("manager") or {}
    hooks = manager.get("hooks") or {}
    cfg = ImporterConfig(
        space=str(manager.get("spaceName", "") or ""),
        batch=int(manager.get("batch", 128) or 128),
        before_hooks=_hook_statements(hooks, "before"),
        after_hooks=_hook_statements(hooks, "after"),
        stats_interval_sec=_duration_sec(manager.get("statsInterval")),
    )

    for sd in raw.get("sources", []) or []:
        kind, path, sql = _source_location(sd)
        cfg.sources.append(
            SourceConfig(
                path=path,
                kind=kind,
                batch=None if sd.get("batch") is None else int(sd["batch"]),
                csv=_csv(sd),
                nodes=[_node(t) for t in sd.get("tags", []) or []],
                edges=[_edge(e) for e in sd.get("edges", []) or []],
                sql=sql,
            )
        )
    cfg.validate()
    return cfg


def read_source_accounted(
    spark: SparkSession, src: SourceConfig, base_dir: Optional[str] = None
):
    """Read one configured source with single-scan failed-row accounting.

    Returns ``(records, observation, counts_raw)``:

    * ``records`` — a ``record: array<string>`` DataFrame, malformed rows
      excluded;
    * ``observation`` — :class:`pyspark.sql.Observation` whose ``.get``
      yields ``{"raw": …, "parsed": …}`` after any action has run over
      ``records`` (the accounting rides the import's own scan — no extra
      read passes; the reference accumulates stats during its single read,
      ``pkg/stats/stats.go:16``);
    * ``counts_raw`` — False for SQL sources: JDBC rows arrive typed, there
      is no per-row parse step that can fail, so "raw" is meaningless and
      the caller should report it as None.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if src.kind == "sql":
        from nebula_importer_spark.sources.jdbc import (
            options_from_sql_config,
            read_records_jdbc,
        )

        sql = src.sql or {}
        fields = (sql.get("dbTable") or {}).get("fields") or None
        records = read_records_jdbc(
            spark, columns=fields, jdbc_options=options_from_sql_config(sql)
        )
        obs = Observation()
        records = records.observe(
            obs,
            F.count(F.lit(1)).alias("raw"),
            F.count(F.lit(1)).alias("parsed"),
        )
        return records, obs, False

    from nebula_importer_spark.sources.csv import read_records_csv

    path = src.path
    if base_dir is not None and "://" not in path and not os.path.isabs(path):
        path = os.path.join(base_dir, path)
    records, obs = read_records_csv(
        spark,
        path,
        delimiter=src.csv.delimiter,
        comment=src.csv.comment,
        with_header=src.csv.with_header,
        lazy_quotes=src.csv.lazy_quotes,
    )
    return records, obs, True
