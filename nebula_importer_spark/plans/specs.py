"""Tag/edge mapping specs — the engine's logical-plan vocabulary.

Dataclass mirrors of the reference's YAML config model
(``/root/reference/pkg/spec/v3/node.go:15-33``, ``edge.go:14-44``,
``nodeid.go:17-25``, ``prop.go:12-27``, ``rank.go:9-14``). ``complete()``
performs the same constant folding the reference does at build time
(statement prefixes, default types/modes — ``node.go:87-123``,
``edge.go:105-154``) and ``validate()`` the same checks
(``node.go:125-157``, ``edge.go:156-202``).

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
from typing import List, Optional, Sequence, Union

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

    def picker_config(self) -> PickerConfig:
        return PickerConfig(indices=[self.index], type="INT")


@dataclass
class NodeSpec:
    """Vertex tag mapping (``pkg/spec/v3/node.go:15-33``)."""

    name: str
    id: NodeIDSpec = field(default_factory=NodeIDSpec)
    props: List[PropSpec] = field(default_factory=list)
    ignore_existed_index: Optional[bool] = None  # None ⇒ True (test goldens)
    ignore_existed_record: Optional[bool] = None  # None ⇒ False
    filter: Optional[str] = None  # expr-lang filter over Record[i]
    mode: Union[str, Mode] = Mode.INSERT

    statement_prefix: str = field(default="", init=False)

    def complete(self) -> None:
        """Prefix constant folding, mirroring ``node.go:87-123``."""
        self.id.complete()
        for p in self.props:
            p.complete()
        self.mode = Mode.convert(self.mode)
        name = convert_identifier(self.name)
        if self.mode == Mode.INSERT:
            prefix = "INSERT VERTEX"
            if self.ignore_existed_index is None or self.ignore_existed_index:
                prefix += " IGNORE_EXISTED_INDEX"
            if self.ignore_existed_record:
                prefix += " IF NOT EXISTS"
            names = ", ".join(p.converted_name for p in self.props)
            self.statement_prefix = f"{prefix} {name}({names}) VALUES "
        elif self.mode == Mode.UPSERT:
            self.statement_prefix = f"UPSERT VERTEX ON {name} "
        elif self.mode == Mode.UPDATE:
            self.statement_prefix = f"UPDATE VERTEX ON {name} "
        elif self.mode == Mode.DELETE:
            self.statement_prefix = f"DELETE TAG {name} FROM "

    def validate(self) -> None:
        """Mirror of ``node.go:125-157``."""
        if not self.name:
            raise SpecValidationError("node without name")
        self.id.validate()
        for p in self.props:
            p.validate()
        if self.mode in (Mode.UPDATE, Mode.UPSERT) and not self.props:
            raise SpecValidationError(f"{self.mode} node requires props")


@dataclass
class EdgeSpec:
    """Edge mapping (``pkg/spec/v3/edge.go:14-44``)."""

    name: str
    src: NodeIDSpec = field(default_factory=NodeIDSpec)
    dst: NodeIDSpec = field(default_factory=NodeIDSpec)
    rank: Optional[RankSpec] = None
    props: List[PropSpec] = field(default_factory=list)
    ignore_existed_index: Optional[bool] = None
    ignore_existed_record: Optional[bool] = None
    filter: Optional[str] = None
    mode: Union[str, Mode] = Mode.INSERT

    statement_prefix: str = field(default="", init=False)

    def complete(self) -> None:
        """Prefix constant folding, mirroring ``edge.go:105-154``."""
        self.src.complete()
        self.dst.complete()
        for p in self.props:
            p.complete()
        self.mode = Mode.convert(self.mode)
        name = convert_identifier(self.name)
        if self.mode == Mode.INSERT:
            prefix = "INSERT EDGE"
            if self.ignore_existed_index is None or self.ignore_existed_index:
                prefix += " IGNORE_EXISTED_INDEX"
            if self.ignore_existed_record:
                prefix += " IF NOT EXISTS"
            names = ", ".join(p.converted_name for p in self.props)
            self.statement_prefix = f"{prefix} {name}({names}) VALUES "
        elif self.mode == Mode.UPSERT:
            self.statement_prefix = f"UPSERT EDGE ON {name} "
        elif self.mode == Mode.UPDATE:
            self.statement_prefix = f"UPDATE EDGE ON {name} "
        elif self.mode == Mode.DELETE:
            self.statement_prefix = f"DELETE EDGE {name} "

    def validate(self) -> None:
        """Mirror of ``edge.go:156-202``."""
        if not self.name:
            raise SpecValidationError("edge without name")
        self.src.validate()
        self.dst.validate()
        for p in self.props:
            p.validate()
        if self.mode in (Mode.UPDATE, Mode.UPSERT) and not self.props:
            raise SpecValidationError(f"{self.mode} edge requires props")
