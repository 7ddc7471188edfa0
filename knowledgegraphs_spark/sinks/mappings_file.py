"""Mappings-file IR (operator S16): the pipeline's persistent intermediate
representation, round-tripped as deterministic JSON.

Reference structure (``MappingsFiles/MappingsFileTemplate.java:172-344``):
a list of tables; each table carries a class-level ``mapping`` and its
columns; each column carries **exactly three ordered mappings** —
index 0 = classMap, 1 = objMap, 2 = dataMap (accessor order ``:202-217``) —
each ``{type, ontoEl, match, path, initialMatch}``. Tables and columns are
sorted by name before writing so reruns byte-compare equal
(``CreateMappingsFile.java:102-103,156-157``).

This IR is driver-scale (schema-sized, not row-sized) by construction. It
is saved and loaded through ``storage``, so the path may be any Hadoop
FileSystem URI and a save replaces the file in one rename.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession

from .. import storage


@dataclass
class ElementMapping:
    type: str = ""
    ontoEl: str = ""
    match: list[str] = field(default_factory=list)
    path: list[str] = field(default_factory=list)
    initialMatch: list[str] = field(default_factory=list)

    def set_as_initial_match(self) -> None:
        """Demote current matches to initialMatch (TabularSpecificRules
        keeps them for PII detection, MappingsFileTemplate.java:258-266)."""
        self.initialMatch = list(self.match)
        self.match = []


@dataclass
class ColumnMappings:
    column: str
    # fixed order: [classMap, objMap, dataMap]
    mappings: list[ElementMapping] = field(default_factory=list)

    def __post_init__(self) -> None:
        while len(self.mappings) < 3:
            self.mappings.append(ElementMapping())

    @property
    def class_map(self) -> ElementMapping:
        return self.mappings[0]

    @property
    def obj_map(self) -> ElementMapping:
        return self.mappings[1]

    @property
    def data_map(self) -> ElementMapping:
        return self.mappings[2]


@dataclass
class TableMappings:
    table: str
    mapping: ElementMapping = field(default_factory=ElementMapping)
    columns: list[ColumnMappings] = field(default_factory=list)


@dataclass
class MappingsFile:
    tables: list[TableMappings] = field(default_factory=list)

    def table(self, name: str) -> TableMappings | None:
        for t in self.tables:
            if t.table == name:
                return t
        return None

    def sorted(self) -> "MappingsFile":
        out = MappingsFile(
            tables=sorted(self.tables, key=lambda t: t.table)
        )
        for t in out.tables:
            t.columns = sorted(t.columns, key=lambda c: c.column)
        return out

    def to_json(self) -> str:
        return json.dumps(asdict(self.sorted()), indent=2, sort_keys=True)

    def save(self, spark: SparkSession, path: str) -> None:
        storage.write_text(spark, path, self.to_json())

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MappingsFile":
        text = storage.read_text(spark, path)
        if text is None:
            raise FileNotFoundError(path)
        return cls.from_dict(json.loads(text))

    @classmethod
    def from_dict(cls, raw: dict) -> "MappingsFile":
        return cls(
            tables=[
                TableMappings(
                    table=t["table"],
                    mapping=ElementMapping(**t["mapping"]),
                    columns=[
                        ColumnMappings(
                            column=c["column"],
                            mappings=[ElementMapping(**m) for m in c["mappings"]],
                        )
                        for c in t["columns"]
                    ],
                )
                for t in raw["tables"]
            ]
        )
