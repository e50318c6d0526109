"""One-call config-driven import — the reference CLI's contract in Spark.

``nebula-importer --config x.yaml`` (``/root/reference/pkg/cmd/
nebula-importer.go:46-130``) loads the YAML, starts the manager (before
hooks), imports every source × tag/edge spec, waits, then fires after hooks
and final stats. :func:`import_config` is that flow over this engine:

* each source is read once (``sources.config.read_source_accounted``) and
  every tag / edge spec mapped from the SAME scan — the reference's
  one-reader-many-importers fan-out (``pkg/manager/manager.go:377-407``),
* per-spec output is the rendered nGQL statement batches
  (``operators.statements.assemble_statements``), optionally written to
  ``output_path/src<source_idx>_<spec_idx>_<kind>_<name>`` as parquet —
  the engine's sink stand-in for the reference's client pool,
* every count the import reports rides a job that runs anyway, as the
  reference accumulates its stats during its single read
  (``pkg/stats/stats.go``): source rows on the scan, records and
  statements on the statement write, table rows on the table write — each
  an ``Observation``. The one count job left is the UPDATE anti-join that
  counts batch rows whose key the table lacks,
* hooks are driver-side statements. The reference executes them against
  NebulaGraph and aborts on failure (``pkg/manager/manager.go:288-334``);
  here anything that parses as Spark SQL runs (and failures abort the
  import, same contract), anything else (raw nGQL, types at
  ``pkg/manager/hooks.go:10-22``) is recorded and skipped — recorded,
  because a migrating user must see WHAT would have run,
* ``manager.statsInterval`` turns on the live :class:`ProgressReporter`.

The CLI face is ``python -m nebula_importer_spark --config x.yaml``
(``__main__.py``), golden-tested against the reference's own e2e fixture
``pkg/cmd/testdata/nebula-importer.v3.yaml`` + CSVs
(``pkg/cmd/nebula-importer_test.go:42-67``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, List, Optional, Union

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.operators.mapping import edge_values, guard_clause, node_values
from nebula_importer_spark.operators.statements import (
    STATEMENT_SCHEMA,
    assemble_statements,
)
from nebula_importer_spark.plans.specs import GraphSpec, Mode
from nebula_importer_spark.session import path_exists
from nebula_importer_spark.sources.config import (
    ImporterConfig,
    SourceConfig,
    load_config,
    read_source_accounted,
)


@dataclass
class HookResult:
    statement: str
    status: str  # "executed" | "skipped"
    error: Optional[str] = None


@dataclass
class SpecResult:
    """One tag/edge spec of one source, after mapping + batch assembly."""

    source: str
    kind: str  # "tag" | "edge"
    name: str
    n_records: int
    n_statements: int
    statements: DataFrame
    output_path: Optional[str] = None
    applied_path: Optional[str] = None  # apply-mode: the mutated table
    table_rows: Optional[int] = None  # apply-mode: post-state row count
    #: apply-mode UPDATE: batch rows dropped because their key is absent
    #: from the table, counted per row (the reference fails the whole
    #: statement batch that holds one, pkg/importer/importer.go:110-128)
    n_failed: int = 0


@dataclass
class SourceStat:
    """Per-source parse accounting (stats.FailedRecords analog).

    Parse failures are counted per row, as the reference's reader does.
    Apply-mode UPDATE failures (:attr:`SpecResult.n_failed`) are counted per
    row too, where the reference counts every record of the failed
    statement batch (``pkg/importer/importer.go:110-128``).
    """

    source: str
    raw_rows: Optional[int]  # None: typed source, no per-row parse step
    parsed_rows: int

    @property
    def failed_rows(self) -> int:
        return 0 if self.raw_rows is None else self.raw_rows - self.parsed_rows


@dataclass
class ImportResult:
    specs: List[SpecResult] = field(default_factory=list)
    sources: List[SourceStat] = field(default_factory=list)
    before_hooks: List[HookResult] = field(default_factory=list)
    after_hooks: List[HookResult] = field(default_factory=list)
    progress: list = field(default_factory=list)
    wall_sec: float = 0.0

    @property
    def n_records(self) -> int:
        return sum(s.n_records for s in self.specs)

    @property
    def n_statements(self) -> int:
        return sum(s.n_statements for s in self.specs)

    @property
    def n_failed(self) -> int:
        """Rows the readers dropped PLUS apply-mode UPDATE rows whose key
        was absent — the reference's stats.IsFailed input
        (``pkg/cmd/nebula-importer.go:118-130``: failed > 0 ⇒ exit 1;
        a failed server-side statement counts the same way,
        ``pkg/importer/importer.go:110-128``)."""
        return sum(s.failed_rows for s in self.sources) + sum(
            s.n_failed for s in self.specs
        )

    @property
    def is_failed(self) -> bool:
        return self.n_failed > 0


def _exec_hooks(spark: SparkSession, stmts) -> List[HookResult]:
    """Execute driver-side hook statements — manager execHooks analog.

    The reference ABORTS the import when a hook statement fails
    (``pkg/manager/manager.go:288-334``; the ``m.Before()`` error return at
    manager.go:222 stops the run before any source is read). The same
    contract holds here for anything Spark SQL can parse: a failing hook
    raises, so a before-hook failure blocks the import and an after-hook
    failure surfaces to the caller. The one deliberate divergence: a
    statement that does not PARSE as Spark SQL (raw nGQL like ``CREATE TAG
    …``) is recorded as "skipped" instead of failing — a migrating user
    keeps their reference config running and sees exactly what would have
    executed server-side.

    ``spark.sql`` runs commands (DDL/CTAS/SET) eagerly but returns SELECT
    plans lazily; the noop-sink write forces those, so "executed" always
    means executed — a query hook over a missing table fails here, not
    silently downstream.

    nGQL/Spark-SQL grammar collisions: a handful of nGQL statement heads
    also parse as Spark SQL (``USE <space>``, ``SHOW …``, ``DESC[RIBE] …``)
    but then fail ANALYSIS because the named space/object only exists
    server-side. Those are classified like the un-parseable nGQL case —
    recorded + skipped — so a migrating user's reference config keeps
    running. Analysis failures on any other statement head abort: those are
    hooks the user wrote as Spark SQL, and silently skipping them would hide
    a real error.
    """
    from pyspark.errors import AnalysisException, ParseException

    out: List[HookResult] = []
    for stmt in stmts:
        try:
            spark.sql(stmt).write.format("noop").mode("overwrite").save()
        except ParseException as e:  # raw nGQL: record, don't die
            out.append(HookResult(stmt, "skipped", error=type(e).__name__))
        except AnalysisException as e:
            head = stmt.split(None, 1)[0].upper() if stmt.split() else ""
            if head in _NGQL_COLLIDING_HEADS:
                out.append(HookResult(stmt, "skipped", error=type(e).__name__))
            else:
                raise
        else:
            out.append(HookResult(stmt, "executed"))
    return out


#: nGQL statement heads that also parse as Spark SQL but reference
#: server-side objects (spaces, tags, hosts): an AnalysisException on these
#: is "valid nGQL, not our catalog" — recorded + skipped, not fatal.
_NGQL_COLLIDING_HEADS = frozenset({"USE", "SHOW", "DESC", "DESCRIBE"})


def import_config(
    spark: SparkSession,
    cfg: Union[ImporterConfig, str],
    base_dir: Optional[str] = None,
    output_path: Optional[str] = None,
    stats_interval_sec: Optional[float] = None,
    apply_path: Optional[str] = None,
) -> ImportResult:
    """Run every source × tag/edge spec of a reference-format config.

    ``cfg`` may be an :class:`ImporterConfig` or a YAML path/text.
    ``base_dir`` resolves relative source paths (the reference resolves
    them against the config file's directory). ``output_path`` writes each
    spec's statement batches as parquet; without it they are written once
    to Spark's noop sink. ``n_records`` and ``n_statements`` are observed
    on that write and ``table_rows`` on the apply's table write: no job
    runs only to produce a number except UPDATE's failed-row anti-join.

    ``apply_path`` turns on the store analog: besides rendering statements,
    each spec's mutation batch is APPLIED to a persistent parquet table at
    ``apply_path/<kind>_<name>`` with the spec's mode semantics
    (:func:`nebula_importer_spark.operators.merge.apply_mutations`) — so a
    second incremental run mutates what the first run wrote, the way the
    reference's client executes its statements against a live store
    (``pkg/importer/importer.go:100-143``). Statement order within a source
    (Nebula applies a batch sequentially) is made explicit via a
    per-partition-monotonic sequence column over the scan, which matches
    file order for splittable sources.

    Scale notes: sources are independent jobs (at 100 TB each is its own
    scan); within a source the record scan is shared by all of its specs
    via one cached narrow relation, mirroring the reference's single reader
    feeding N importers. Statement assembly is per-partition
    (``mapInPandas``), so batches never centralize. The apply itself is the
    standard MERGE plan: one key shuffle per side, AQE free to broadcast
    the (usually small) batch.
    """
    if isinstance(cfg, str):
        cfg = load_config(cfg)
    else:  # load_config validates; a hand-built config may not be
        cfg.validate()
    interval = (
        cfg.stats_interval_sec if stats_interval_sec is None else stats_interval_sec
    )
    reporter = None
    if interval:
        from nebula_importer_spark.pipeline.progress import ProgressReporter

        reporter = ProgressReporter(spark, interval_sec=interval).start()

    t0 = time.time()
    result = ImportResult()
    try:
        result.before_hooks = _exec_hooks(spark, cfg.before_hooks)
        for i, src in enumerate(cfg.sources):
            # failed-record accounting rides the import's own scan: the
            # observe node below counts raw + parsed when the first spec
            # job materializes the source (the reference accumulates stats
            # during its single read). validate() guarantees a spec reads it.
            records, obs, counts_raw = read_source_accounted(
                spark, src, base_dir=base_dir
            )
            # one body maps both kinds; each is called by its own public
            # name, the one a tracer of the mapping layer wraps
            specs = [(node_values, s) for s in src.nodes] + [
                (edge_values, s) for s in src.edges
            ]
            if apply_path is not None:
                # statement order within the source, for apply-mode
                # last-writer-wins (unique; ascending within a partition
                # and partitions are ordered by split, so it follows file
                # order for any splittable source)
                records = records.withColumn(
                    _SEQ_COL, F.monotonically_increasing_id()
                )
            if len(specs) > 1:
                records = records.persist()  # one scan, many importers
            try:
                for j, (values_of, spec) in enumerate(specs):
                    result.specs.append(
                        _run_spec(
                            spark, records, src, f"{i}_{j}", values_of, spec,
                            batch=src.batch or cfg.batch,
                            output_path=output_path,
                            apply_path=apply_path,
                        )
                    )
            finally:
                if len(specs) > 1:
                    records.unpersist()
            metrics = obs.get  # populated by the specs' own jobs above
            result.sources.append(
                SourceStat(
                    source=src.path or "sql",
                    raw_rows=metrics["raw"] if counts_raw else None,
                    parsed_rows=metrics["parsed"],
                )
            )
        result.after_hooks = _exec_hooks(spark, cfg.after_hooks)
    finally:
        if reporter is not None:
            reporter.stop()
            result.progress = reporter.rows
    result.wall_sec = time.time() - t0
    return result


#: Apply-mode statement-order column (added to the scan, carried through
#: the value projection, consumed by ``apply_mutations(seq_col=…)``).
_SEQ_COL = "_seq"


def _run_spec(
    spark: SparkSession,
    records: DataFrame,
    src: SourceConfig,
    spec_key: str,
    values_of: Callable[..., DataFrame],
    spec: GraphSpec,
    batch: int,
    output_path: Optional[str],
    apply_path: Optional[str] = None,
) -> SpecResult:
    keep = (_SEQ_COL,) if apply_path is not None else ()
    values = values_of(records, spec, keep=keep)
    if apply_path is not None:
        values = values.persist()  # shared: statement assembly + apply
    stmts = assemble_statements(values.drop(_SEQ_COL), spec, batch=batch)
    out = None
    if output_path is not None:
        # the spec's position keeps two specs of one kind and name apart
        out = f"{output_path}/src{spec_key}_{spec.kind}_{spec.name}"
    # every fragment lands in exactly one statement: the statements'
    # n_records sum is the spec's record count
    counts = _write_counted(
        stmts, out, n=F.count(F.lit(1)), records=F.sum("n_records")
    )
    if out is not None:
        stmts = spark.read.schema(STATEMENT_SCHEMA).parquet(out)
    applied_path = table_rows = None
    n_failed = 0
    if apply_path is not None:
        try:
            applied_path, table_rows, n_failed = _apply_spec(
                spark, values, spec, apply_path
            )
        finally:
            values.unpersist()
    return SpecResult(
        source=src.path or "sql",
        kind=spec.kind,
        name=spec.name,
        n_records=counts["records"] or 0,
        n_statements=counts["n"],
        statements=stmts,
        output_path=out,
        applied_path=applied_path,
        table_rows=table_rows,
        n_failed=n_failed,
    )


def _apply_spec(
    spark: SparkSession,
    values: DataFrame,
    spec: GraphSpec,
    apply_path: str,
) -> tuple:
    """Apply one spec's mutation batch to its persistent table — the store
    analog of the reference client executing the rendered statements
    (``pkg/importer/importer.go:100-143``).

    Table state is the RENDERED representation: keys are rendered VID/
    endpoint literals, props are rendered value literals (the string
    ``NULL`` is a stored NULL — set-to-NULL and not-set stay distinct:
    a guard-failed SET clause becomes SQL NULL = "not set by this batch",
    exactly the clause the renderer drops from the statement text).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    from nebula_importer_spark.operators.checkpointing import materialize
    from nebula_importer_spark.operators.merge import apply_mutations

    key = spec.table_key()
    key_cols = list(key)
    prop_names = [f"p_{p.name}" for p in spec.props]
    batch_cols = []
    if spec.mode != Mode.DELETE:
        for p in spec.props:
            col = F.col(f"p_{p.name}")
            if spec.mode in (Mode.UPDATE, Mode.UPSERT):
                # the renderer's guard drops the clause from the SET list;
                # here "dropped" = not set
                col = guard_clause(p, col)
            batch_cols.append(col.alias(f"p_{p.name}"))
    batch = values.select(
        *(c.alias(n) for n, c in key.items()), *batch_cols, F.col(_SEQ_COL)
    )

    table_path = f"{apply_path}/{spec.kind}_{spec.name}"
    if path_exists(spark, table_path):
        table = spark.read.parquet(table_path)
    else:  # first run: empty table with this spec's schema
        table = spark.createDataFrame(
            [],
            StructType(
                [StructField(c, StringType()) for c in key_cols + prop_names]
            ),
        )
    # schema evolution: props this spec introduces join the table as
    # never-set columns (apply_mutations takes the prop set from the table)
    for c in prop_names:
        if c not in table.columns:
            table = table.withColumn(c, F.lit(None).cast("string"))

    n_failed = 0
    if spec.mode == Mode.UPDATE:
        # UPDATE drops batch rows whose key is absent; each counts as one
        # failed row (the reference fails the statement batch holding it,
        # importer.go:110-128) — surface the count so the CLI exit contract
        # covers it. One anti-join over the persisted batch, paid only on
        # the UPDATE path.
        from nebula_importer_spark.operators.merge import unmatched_update_rows

        n_failed = unmatched_update_rows(table, batch, key_cols).count()

    post = apply_mutations(
        table, batch, spec.mode.value, key_cols=key_cols, seq_col=_SEQ_COL
    )
    # cut lineage before the overwrite deletes the files the plan reads;
    # the cut's own job is an RDD action, so the write does the counting
    post = materialize(post)
    table_rows = _write_counted(post, table_path, n=F.count(F.lit(1)))["n"]
    return table_path, table_rows, n_failed


def _write_counted(df: DataFrame, path: Optional[str], **aggs) -> dict:
    """Write ``df`` as parquet at ``path`` (the noop sink when None) and
    return the named ``aggs``, computed by an observe node on that write —
    the import's one way to count."""
    obs = Observation()
    writer = df.observe(obs, *(c.alias(k) for k, c in aggs.items())).write
    if path is None:
        writer.format("noop").mode("overwrite").save()
    else:
        writer.mode("overwrite").parquet(path)
    return obs.get
