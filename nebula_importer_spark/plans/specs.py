"""Tag/edge mapping specs — the engine's logical-plan vocabulary.

Dataclass mirrors of the reference's YAML config model
(``/root/reference/pkg/spec/v3/node.go:15-33``, ``edge.go:14-44``,
``nodeid.go:17-25``, ``prop.go:12-27``, ``rank.go:9-14``). The reference
builds tags and edges with two parallel builders; here the one difference
between them, the key, lives behind :class:`GraphSpec`: a tag is keyed by
its VID, an edge by ``src->dst[@rank]``. Each spec names its key columns
and their pickers, its rendered key, its head triple and whether its
DELETEs share one prefix, so the mapping, triple, statement and apply code
has one body for both kinds. ``complete()`` performs the constant folding
the reference does at build time (statement prefixes, default types/modes
— ``node.go:87-123``, ``edge.go:105-154``) and ``validate()`` the same
checks (``node.go:125-157``, ``edge.go:156-202``).

Divergences from the *fork's* code, both deliberate and following the fork's
own unit-test goldens (see SURVEY.md §2.3):

* default mode is INSERT (``README.md:402`` + all test goldens), not the
  fork's ``DefaultMode = UpsertMode`` regression (``pkg/spec/base/mode.go:5``);
* ``ignoreExistedIndex`` unset ⇒ True ("default enable IGNORE_EXISTED_INDEX",
  ``node.go:98`` comment + goldens ``node_test.go:150`` etc.), explicit
  False ⇒ off.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import ClassVar, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from nebula_importer_spark.functions.pickers import (
    NULL_RENDER,
    PickerConfig,
    VID_TYPES,
    _SUPPORTED_TYPES,
)
from nebula_importer_spark.functions.quoting import convert_identifier


class Mode(str, Enum):
    INSERT = "INSERT"
    UPDATE = "UPDATE"
    UPSERT = "UPSERT"
    DELETE = "DELETE"

    @classmethod
    def convert(cls, m: Union[str, "Mode", None]) -> "Mode":
        if isinstance(m, cls):
            return m
        if m is None or m == "":
            return cls.INSERT
        return cls(str(m).upper())


class SpecValidationError(ValueError):
    pass


@dataclass
class PropSpec:
    """One typed property column (``pkg/spec/v3/prop.go:12-27``)."""

    name: str
    type: str = "STRING"
    index: int = 0
    nullable: bool = False
    null_value: str = ""  # input sentinel meaning null (prop.go:83-87)
    alternative_indices: Sequence[int] = field(default_factory=list)
    default_value: Optional[str] = None
    # fork-added per-prop guard; env val = the full "name = value" clause
    # (prop.go:69-75,130-153); false ⇒ drop this SET clause on UPDATE/UPSERT
    expr: Optional[str] = None

    def complete(self) -> None:
        if not self.type:
            self.type = "STRING"

    def validate(self) -> None:
        if not self.name:
            raise SpecValidationError("prop without name")
        if self.type.upper() not in _SUPPORTED_TYPES:
            raise SpecValidationError(f"unsupported prop type {self.type}")

    @property
    def converted_name(self) -> str:
        return convert_identifier(self.name)

    def picker_config(self) -> PickerConfig:
        """Mirror of ``prop.go:74-96`` initPicker."""
        indices = [self.index]
        sentinel: Optional[str] = None
        default: Optional[str] = None
        if self.nullable:
            sentinel = self.null_value
            indices += list(self.alternative_indices)
            default = self.default_value
        return PickerConfig(
            indices=indices,
            null_sentinel=sentinel,
            null_value=NULL_RENDER,
            default_value=default,
            type=self.type,
        )


@dataclass
class NodeIDSpec:
    """VID synthesis spec (``pkg/spec/v3/nodeid.go:17-25``)."""

    type: str = "STRING"
    index: int = 0
    concat_items: Sequence[Union[int, str]] = field(default_factory=list)
    function: Optional[str] = None  # only HASH supported (nodeid.go:10-12)

    def complete(self) -> None:
        if not self.type:
            self.type = "STRING"

    def validate(self) -> None:
        if self.type.upper() not in VID_TYPES:
            raise SpecValidationError(f"unsupported VID type {self.type}")
        if self.function and self.function.upper() != "HASH":
            raise SpecValidationError(f"unsupported VID function {self.function}")

    def picker_config(self) -> PickerConfig:
        """Mirror of ``nodeid.go:70-84`` initPicker."""
        cfg = PickerConfig(type=self.type, function=self.function or None)
        if self.concat_items:
            cfg.concat_items = list(self.concat_items)
        else:
            cfg.indices = [self.index]
        return cfg


@dataclass
class RankSpec:
    """Edge rank column, always INT (``pkg/spec/v3/rank.go:35-44``)."""

    index: int = 0

    def complete(self) -> None:
        """Nothing to fold: the type is fixed."""

    def validate(self) -> None:
        """Nothing to check: any index is valid."""

    def picker_config(self) -> PickerConfig:
        return PickerConfig(indices=[self.index], type="INT")


@dataclass
class GraphSpec:
    """What a tag and an edge mapping share: the fields, the prefix folding
    (``node.go:87-123``, ``edge.go:105-154``) and the checks
    (``node.go:125-157``, ``edge.go:156-202``). A subclass names its key:
    the columns that pick it, its rendered form and its head triple."""

    #: the word in the statement (``src<i>_<j>_<kind>_<name>``) and table
    #: (``<kind>_<name>``) paths of an import
    kind: ClassVar[str]
    #: error-message noun, and the statement word after INSERT/UPDATE/UPSERT
    noun: ClassVar[str]
    word: ClassVar[str]
    delete_prefix: ClassVar[str]  # formatted with the converted name
    #: DELETE fragments joined under one prefix (``edge.go:321-372``), or
    #: each a full statement (``node.go:263-266``)
    delete_shares_prefix: ClassVar[bool]

    name: str
    props: List[PropSpec] = field(default_factory=list)
    ignore_existed_index: Optional[bool] = None  # None ⇒ True (test goldens)
    ignore_existed_record: Optional[bool] = None  # None ⇒ False
    filter: Optional[str] = None  # expr-lang filter over Record[i]
    mode: Union[str, Mode] = Mode.INSERT

    statement_prefix: str = field(default="", init=False)

    def key_specs(self) -> Dict[str, Union[NodeIDSpec, RankSpec]]:
        """Key column name → the spec that picks it, in output order."""
        raise NotImplementedError

    def key(self) -> Column:
        """The rendered key: a fragment's target and every prop triple's
        subject."""
        raise NotImplementedError

    def head_triple(self) -> Tuple[Column, Column, Column]:
        """(subj, pred, obj) of the triple each row emits besides its props."""
        raise NotImplementedError

    def table_key(self) -> Dict[str, Column]:
        """Key columns of the applied table (``pipeline.importer``)."""
        return {c: F.col(c) for c in self.key_specs()}

    def complete(self) -> None:
        """Prefix constant folding."""
        for part in (*self.key_specs().values(), *self.props):
            part.complete()
        self.mode = Mode.convert(self.mode)
        name = convert_identifier(self.name)
        if self.mode == Mode.INSERT:
            prefix = f"INSERT {self.word}"
            if self.ignore_existed_index is None or self.ignore_existed_index:
                prefix += " IGNORE_EXISTED_INDEX"
            if self.ignore_existed_record:
                prefix += " IF NOT EXISTS"
            names = ", ".join(p.converted_name for p in self.props)
            self.statement_prefix = f"{prefix} {name}({names}) VALUES "
        elif self.mode in (Mode.UPSERT, Mode.UPDATE):
            self.statement_prefix = f"{self.mode.value} {self.word} ON {name} "
        elif self.mode == Mode.DELETE:
            self.statement_prefix = self.delete_prefix.format(name)

    def validate(self) -> None:
        """The reference's build-time checks."""
        if not self.name:
            raise SpecValidationError(f"{self.noun} without name")
        for part in (*self.key_specs().values(), *self.props):
            part.validate()
        if self.mode in (Mode.UPDATE, Mode.UPSERT) and not self.props:
            raise SpecValidationError(f"{self.mode} {self.noun} requires props")


@dataclass
class NodeSpec(GraphSpec):
    """Vertex tag mapping (``pkg/spec/v3/node.go:15-33``); the key is the
    VID."""

    kind: ClassVar[str] = "tag"
    noun: ClassVar[str] = "node"
    word: ClassVar[str] = "VERTEX"
    delete_prefix: ClassVar[str] = "DELETE TAG {} FROM "
    delete_shares_prefix: ClassVar[bool] = False

    id: NodeIDSpec = field(default_factory=NodeIDSpec)

    def key_specs(self) -> Dict[str, Union[NodeIDSpec, RankSpec]]:
        return {"vid": self.id}

    def key(self) -> Column:
        return F.col("vid")

    def head_triple(self) -> Tuple[Column, Column, Column]:
        return F.col("vid"), F.lit(f"tag:{self.name}"), F.lit("NULL")


@dataclass
class EdgeSpec(GraphSpec):
    """Edge mapping (``pkg/spec/v3/edge.go:14-44``); the key is
    ``src->dst[@rank]``."""

    kind: ClassVar[str] = "edge"
    noun: ClassVar[str] = "edge"
    word: ClassVar[str] = "EDGE"
    delete_prefix: ClassVar[str] = "DELETE EDGE {} "
    delete_shares_prefix: ClassVar[bool] = True

    src: NodeIDSpec = field(default_factory=NodeIDSpec)
    dst: NodeIDSpec = field(default_factory=NodeIDSpec)
    rank: Optional[RankSpec] = None

    def key_specs(self) -> Dict[str, Union[NodeIDSpec, RankSpec]]:
        keys: Dict[str, Union[NodeIDSpec, RankSpec]] = {"src": self.src, "dst": self.dst}
        if self.rank is not None:
            keys["rank"] = self.rank
        return keys

    def _rank_suffix(self) -> Column:
        return F.concat(F.lit("@"), F.col("rank")) if self.rank is not None else F.lit("")

    def key(self) -> Column:
        return F.concat(F.col("src"), F.lit("->"), F.col("dst"), self._rank_suffix())

    def head_triple(self) -> Tuple[Column, Column, Column]:
        return F.col("src"), F.concat(F.lit(self.name), self._rank_suffix()), F.col("dst")

    def table_key(self) -> Dict[str, Column]:
        keys = super().table_key()
        keys.setdefault("rank", F.lit("0"))  # the reference's default rank
        return keys
