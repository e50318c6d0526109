"""The benchmark's workloads: seeded inputs, one op, and the op's checks.

Each workload object is built from a seed and a work directory, then:

* ``setup(spark)`` generates the inputs and loads any store the op reads;
  it may run several times (the harness reports the median) and the last
  run's inputs are the ones the ops use;
* ``prepare(i)``, where a workload has it, writes op ``i``'s inputs
  (untimed);
* ``op(i, tracer=None)`` runs op number ``i`` and returns an :class:`Op`
  with the records it consumed; nothing besides the program's own calls
  runs inside it (``layers.Tracer`` adds spans when given);
* ``check(op)`` verifies the op's output after the timer stopped and
  returns the list of problems (empty when the output is correct), then
  ``release(op)`` frees what the op cached;
* ``final_check()`` verifies state that accumulates across ops.

The program only ever sees the generated files; the seed stays here.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from dataclasses import dataclass, field

KG_DOCS = 500
STORE_ROWS = 20_000
BATCH_ROWS = 2_000
STATEMENT_BATCH = 128


@dataclass
class Op:
    records: int
    result: object = None
    #: values the checks compare across ops; filled by ``check``
    fingerprint: dict = field(default_factory=dict)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- kg_build


class KgBuild:
    """``run_pipeline`` over a seeded interleaved corpus, forced by one
    aggregate over the triples (count + order-insensitive hash)."""

    name = "kg_build"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.corpus = None
        self.reference = None  # (count, hash) of the first op
        self.golden = _golden_person_triples()

    def setup(self, spark) -> None:
        from nebula_importer_spark.fixtures import PERSON_CSV_LINES
        from nebula_importer_spark.pipeline.corpus import synthetic_corpus

        self.spark = spark
        path = os.path.join(_fresh_dir(os.path.join(self.work, "kg")), "corpus")
        synthetic_corpus(
            spark, n_docs=KG_DOCS, seed=self.seed, fixture_rows=PERSON_CSV_LINES
        ).write.parquet(path)
        self.corpus = spark.read.parquet(path)

    def op(self, i: int, tracer=None) -> Op:
        from pyspark.sql import functions as F

        from nebula_importer_spark.fixtures import person_spec
        from nebula_importer_spark.pipeline.run import run_pipeline

        result = run_pipeline(self.spark, self.corpus, fixture_node_specs=[person_spec()])
        key = F.concat_ws("\x1f", "subj", "pred", "obj")
        row = result.triples.agg(
            F.count(F.lit(1)).alias("n"),
            # low 32 bits per row: the sum cannot overflow a long
            F.sum(F.xxhash64(key).bitwiseAND(0xFFFFFFFF)).alias("h"),
            F.sum(F.when(key.isin(*self.golden), 1).otherwise(0)).alias("golden"),
        ).collect()[0]
        return Op(KG_DOCS, (result, row))

    def release(self, op: Op) -> None:
        op.result[0].unpersist()

    def check(self, op: Op) -> list[str]:
        n, h, golden = op.result[1]
        op.fingerprint = {"triples": n, "hash": h}
        problems = []
        if golden != len(self.golden):
            problems.append(f"golden Person triples {golden}/{len(self.golden)}")
        if self.reference is None:
            self.reference = (n, h)
        elif (n, h) != self.reference:
            problems.append(f"triples {(n, h)} != first op {self.reference}")
        return problems

    def final_check(self) -> list[str]:
        return []


def _golden_person_triples() -> list[str]:
    """The Person vertex triples the fixture rows must produce, rendered by
    the benchmark: ``(vid, "tag:Person", NULL)`` plus one per prop."""
    from nebula_importer_spark.fixtures import PERSON_CSV_LINES

    out = []
    for line in PERSON_CSV_LINES:
        cols = line.split("|")
        vid = f'"{cols[0]}"'
        out.append(f"{vid}\x1ftag:Person\x1fNULL")
        out += [f"{vid}\x1fPerson.{p}\x1f{v}" for p, v in zip(PROPS, _rendered(cols))]
    return out


# ------------------------------------------------------------ import_apply

# two sources over the same batch file, so each spec writes its own
# statement directory (specs of one source with the same kind and name
# share one); the UPSERT runs first, then the filtered UPDATE
APPLY_CONFIG = """\
manager:
  spaceName: bench
  batch: {batch}
sources:
  - path: ./person.csv
    csv:
      delimiter: "|"
    tags:
      - name: Person
        mode: UPSERT
        id: {{type: STRING, index: 0}}
        props:
          - {{name: firstName, type: STRING, index: 1}}
          - {{name: lastName, type: STRING, index: 2}}
          - {{name: gender, type: STRING, index: 3, nullable: true, defaultValue: female}}
          - {{name: birthday, type: DATE, index: 4, nullable: true, nullValue: _NULL_}}
          - {{name: creationDate, type: DATETIME, index: 5}}
  - path: ./person.csv
    csv:
      delimiter: "|"
    tags:
      - name: Person
        mode: UPDATE
        id: {{type: STRING, index: 0}}
        filter:
          expr: 'Record[7] != ""'
        props:
          - {{name: locationIP, type: STRING, index: 6}}
          - {{name: browserUsed, type: STRING, index: 7}}
"""

PROPS = ("firstName", "lastName", "gender", "birthday", "creationDate",
         "locationIP", "browserUsed")
_FIRST = ("Mahinda", "Carmen", "Rao", "Gustavo", "Eli", "Joseph", "Michael",
          "Yacine", "Faisal", "Manuel", "Jose", "Steve")
_LAST = ("Perera", "Lepland", "Arbelaez", "Peretz", "Anderson", "Li",
         "Abdelli", "Malik", "Alvarez", "Alonso", "Moore")
_BROWSERS = ("Firefox", "Chrome", "Internet Explorer", "Safari", "")


def _person(rng: random.Random, vid: str) -> list[str]:
    """One ``|`` person row shaped like the reference's basic example."""
    return [
        vid, rng.choice(_FIRST), rng.choice(_LAST), rng.choice(("male", "female", "")),
        "_NULL_" if rng.random() < 0.1 else
        f"{rng.randint(1950, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        f"{rng.randint(2008, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
        ".".join(str(rng.randint(1, 254)) for _ in range(4)),
        rng.choice(_BROWSERS),
    ]


def _rendered(cols: list[str]) -> list[str]:
    """The stored values of a person row, rendered by the reference's rules
    for these prop types: quoted strings, ``DATE(…)``/``DATETIME(…)``
    wrappers, the null sentinel as ``NULL`` and the gender default."""
    first, last, gender, birthday, created, ip, browser = cols[1:]
    return [
        f'"{first}"', f'"{last}"', f'"{gender or "female"}"',
        "NULL" if birthday == "_NULL_" else f'DATE("{birthday}")',
        f'DATETIME("{created}")', f'"{ip}"', f'"{browser}"',
    ]


class ImportApply:
    """One ``import_config(cfg, output_path=…, apply_path=…)`` call -- the
    CLI's ``--output`` plus ``--apply-to`` -- applying a fresh batch to the
    Person table loaded in set-up. The batch goes through the UPSERT and
    the UPDATE path; its keys come from the loaded keys, so the table never
    grows and no UPDATE misses."""

    name = "import_apply"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def setup(self, spark) -> None:
        """Seeded inputs and the store: the table the program would have
        written for an INSERT of the rows, as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        root = _fresh_dir(os.path.join(self.work, "import"))
        self.batch_dir = _fresh_dir(os.path.join(root, "batch"))
        self.output = os.path.join(root, "statements")
        self.store = os.path.join(root, "store")
        self.table = os.path.join(self.store, "tag_Person")
        with open(os.path.join(self.batch_dir, "apply.yaml"), "w") as f:
            f.write(APPLY_CONFIG.format(batch=STATEMENT_BATCH))
        rng = random.Random(f"{self.seed}:store")
        self.ids = [str(v) for v in rng.sample(range(10**6, 10**13), STORE_ROWS)]
        # rendered vid -> rendered props, replayed batch by batch
        self.state = {f'"{v}"': _rendered(_person(rng, v)) for v in self.ids}
        columns = {"vid": list(self.state)}
        for j, p in enumerate(PROPS):
            columns[f"p_{p}"] = [row[j] for row in self.state.values()]
        os.makedirs(self.table)
        pq.write_table(pa.table(columns), os.path.join(self.table, "part-00000-load.parquet"))

    def prepare(self, i: int) -> None:
        """Write batch ``i`` (untimed): BATCH_ROWS person rows on loaded keys."""
        rng = random.Random(f"{self.seed}:batch:{i}")
        self.pending = [_person(rng, rng.choice(self.ids)) for _ in range(BATCH_ROWS)]
        path = os.path.join(self.batch_dir, "person.csv")
        _write(path, ("|".join(r) for r in self.pending))
        self.batch_bytes = os.path.getsize(path)

    def op(self, i: int, tracer=None) -> Op:
        from nebula_importer_spark.pipeline.importer import import_config

        if tracer is not None:
            from layers import list_files

            self.listings = [list_files(self.table)]
            tracer.on_apply = lambda: self.listings.append(list_files(self.table))
        try:
            result = import_config(
                self.spark, os.path.join(self.batch_dir, "apply.yaml"),
                base_dir=self.batch_dir, output_path=self.output,
                apply_path=self.store,
            )
        finally:
            if tracer is not None:
                tracer.on_apply = None
                self.listings.append(list_files(self.table))
        return Op(BATCH_ROWS, result)

    def release(self, op: Op) -> None:
        pass

    def check(self, op: Op) -> list[str]:
        result = op.result
        problems = []
        for s in result.sources:
            if s.raw_rows != BATCH_ROWS or s.parsed_rows != BATCH_ROWS:
                problems.append(f"{s.source}: raw {s.raw_rows} parsed {s.parsed_rows}")
        updates = sum(1 for r in self.pending if r[7] != "")
        stmts = _statements(self.output)
        op.fingerprint = {"statements": stmts}
        for spec, want in zip(result.specs, (BATCH_ROWS, updates)):
            if spec.n_records != want or spec.table_rows != STORE_ROWS or spec.n_failed:
                problems.append(
                    f"{spec.name}: records {spec.n_records}/{want}, "
                    f"rows {spec.table_rows}, failed {spec.n_failed}")
        if [n for n, _, _ in stmts] != [BATCH_ROWS, updates] or any(
                m > STATEMENT_BATCH for _, m, _ in stmts):
            problems.append(f"statement records {stmts}")
        self._replay()
        return problems

    def _replay(self) -> None:
        # the UPSERT sets its five props on every row, then the UPDATE sets
        # the last two on rows that pass its filter; a later row of a key wins
        for r in self.pending:
            self.state[f'"{r[0]}"'][0:5] = _rendered(r)[0:5]
        for r in self.pending:
            if r[7] != "":
                self.state[f'"{r[0]}"'][5:7] = _rendered(r)[5:7]

    def layer_counts(self, tracer) -> dict:
        """Sink and store bytes and files of the traced op, from directory
        listings: each apply rewrites the whole table, so the files new in
        one listing against the previous one are what a rewrite wrote."""
        from layers import list_files

        sink = list_files(self.output)
        written = [
            {f: n for f, n in after.items() if f not in before}
            for before, after in zip(self.listings, self.listings[1:])
        ]
        store_bytes = sum(sum(w.values()) for w in written)
        return {
            "sink.mb_written": sum(sink.values()) / 2**20,
            "sink.files_written": len(sink),
            "store.mb_written": store_bytes / 2**20,
            "store.files_rewritten": sum(len(w) for w in written),
            "store.write_amplification": store_bytes / self.batch_bytes,
        }

    def final_check(self) -> list[str]:
        """The table equals the Python replay of every batch applied."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.table).to_pydict()
        got = {}
        for k, vid in enumerate(t["vid"]):
            got[vid] = [t[f"p_{p}"][k] for p in PROPS]
        if len(t["vid"]) != len(got) or got != self.state:
            bad = sum(1 for k, v in self.state.items() if got.get(k) != v)
            return [f"table differs from replay: {bad} keys, {len(t['vid'])} rows"]
        return []


def _write(path: str, lines) -> None:
    with open(path, "w") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _statements(output: str) -> list[tuple]:
    """Per statement directory, in order: (records, largest statement's
    records, order-insensitive hash of the statement texts)."""
    import hashlib

    import pyarrow.parquet as pq

    out = []
    for d in sorted(glob.glob(os.path.join(output, "*"))):
        t = pq.read_table(d).to_pydict()
        h = sum(int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")
                for s in t["statement"])
        out.append((sum(t["n_records"]), max(t["n_records"]), h))
    return out


WORKLOADS = {w.name: w for w in (KgBuild, ImportApply)}
