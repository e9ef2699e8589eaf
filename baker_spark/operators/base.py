"""Operator base class + registry.

The reference wires filters by name from TOML (`FilterDesc{Name, New,
Config, Help}`, /root/reference/desc.go:76-81). Here an operator is a
declarative DataFrame -> DataFrame transform; a chain of operators is a
left-fold (`/root/reference/topology.go:204-218` runs them record-at-a-
time; Catalyst collapses our fold into one whole-stage-codegen stage).

Null semantics: the reference has no null distinct from "" (a field value
is []byte; empty == null, /root/reference/record.go:35-39). `is_empty`
below treats NULL and '' identically, and operators that write "cleared"
fields write ''.
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column, DataFrame, functions as F


class Operator:
    """A declarative row-operator. Subclasses set ``name`` (the TOML
    component name, matched case-insensitively like the reference,
    /root/reference/config.go:300-351) and implement ``apply``.
    A filter's ``apply`` is a plain ``df.filter``: Catalyst places the
    predicate, pushing it through projections and repartitions down to
    the scan (SURVEY.md §4.1)."""

    name: str = ""

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


REGISTRY: dict[str, type[Operator]] = {}


def register(cls: type[Operator]) -> type[Operator]:
    REGISTRY[cls.name.lower()] = cls
    return cls


def fold_key(key: str) -> str:
    """The form config keys are matched in: no underscores, lower case."""
    return key.replace("_", "").lower()


def toml_key(param: str) -> str:
    """A parameter name's TOML spelling, as help prints it: snake_case ->
    CamelCase (``aws_region`` -> ``AWSRegion``, ``csv_path`` -> ``CSVPath``)."""
    return "".join(w.upper() if w in ("aws", "csv") else w.capitalize() for w in param.split("_"))


def config_params(fn, context=()) -> list[inspect.Parameter]:
    """The ``[*.config]`` keys of ``fn`` (a class or a ``from_config``
    classmethod): its keyword parameters, less those named in
    ``context``, which the topology fills."""
    return [
        p
        for p in inspect.signature(fn).parameters.values()
        if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY) and p.name not in context
    ]


def decode(fn, config: dict, context: dict | None = None, what: str = ""):
    """Call ``fn`` with a ``[*.config]`` table, the way the reference
    decodes every component's config (config.go:233-277,353-384): keys
    match parameter names case-insensitively, ignoring underscores
    (``PathString``, ``pathstring`` and ``path_string`` are one key); an
    unknown key is rejected naming the valid ones (config.go:404-406),
    then a missing required one. ``context`` (the ``[fields]`` names, the
    ``[csv]`` separator, the ``[output]`` fields) goes only to the
    parameters named like its entries."""
    context = context or {}
    params = config_params(fn, context)
    by_key = {fold_key(p.name): p.name for p in params}
    names = {p.name for p in inspect.signature(fn).parameters.values()}
    kwargs = {k: v for k, v in context.items() if k in names}
    for key, value in config.items():
        name = by_key.get(fold_key(key))
        if name is None:
            valid = ", ".join(toml_key(p.name) for p in params) or "none"
            raise ValueError(f"{what}: unknown config key {key!r}; valid keys: {valid}")
        kwargs[name] = value
    for p in params:
        if p.default is p.empty and p.name not in kwargs:
            raise ValueError(f"{what}: {toml_key(p.name)} is required")
    return fn(**kwargs)


def create(name: str, **config) -> Operator:
    """Instantiate an operator by (case-insensitive) name from its
    ``[filter.config]`` keys, through :func:`decode`."""
    cls = REGISTRY.get(name.lower())
    if cls is None:
        raise KeyError(f"unknown operator {name!r}; known: {sorted(REGISTRY)}")
    return decode(cls, config, what=f"{cls.name} filter")


def is_empty(col: Column | str) -> Column:
    """Baker-style null test: NULL or empty string (record.go:35-39)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (c == F.lit(""))


def chain(df: DataFrame, ops: list[Operator]) -> DataFrame:
    for op in ops:
        df = op.apply(df)
    return df

