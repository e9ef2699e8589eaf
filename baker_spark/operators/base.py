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

    Hoisting metadata (used by :func:`split_chain` to push pure predicates
    above an engine-inserted shuffle barrier such as ``fan_out``):

    - ``keep_predicate()`` — for side-effect-free predicate operators,
      the keep-condition as a Column over STRING views of the fields it
      reads (so it evaluates identically on a natively-typed scan and on
      the all-string record frame); ``None`` for everything else.
    - ``reads`` — fields the predicate reads (None = unknown).
    - ``writes`` — fields the operator writes; ``None`` means unknown
      (treated as a hoisting barrier), ``[]`` means pure predicate.
    """

    name: str = ""
    #: fields written by this operator; None = unknown (barrier for hoisting)
    writes: list[str] | None = None
    #: fields read by the keep-predicate; None = not a hoistable predicate
    reads: list[str] | None = None
    #: True for predicates whose per-row evaluation is costly (regex,
    #: parse-to-int). The barrier hoist skips these: when ``fan_out``
    #: actually repartitions, the pre-exchange stage is the narrow
    #: (often serial) scan, and an expensive predicate there costs more
    #: wall time than its exchange savings unless it is very selective —
    #: measured ~10% on the reference-topology bench. They still run
    #: exactly once, in the parallel post-exchange chain. (On a real
    #: multi-split input fan_out is a no-op and Catalyst pushes ALL
    #: predicates into the scan as usual — this flag only shapes the
    #: engine's own above-the-exchange hoist.)
    expensive_predicate: bool = False

    def keep_predicate(self) -> Column | None:
        return None

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


def split_chain(ops: list[Operator]) -> tuple[list[Column], list[Operator]]:
    """Split a chain into the keep-predicates that may legally run
    BEFORE it and the chain left to run after them.

    Walk the chain in order, tracking which fields earlier operators
    write. A pure predicate hoists iff it reads none of them (predicates
    commute with each other). An operator with unknown writes is a
    barrier — nothing after it hoists. This mirrors what Catalyst's
    PushDownPredicates does, but across the engine's own
    fan-out/repartition barrier, which Catalyst must not cross.

    An op is dropped from the remaining chain iff its keep-predicate
    hoisted AND it writes nothing (``writes == []``): then ``apply()`` is
    exactly ``filter(keep_predicate)``, which already ran below the
    barrier — each filter runs once, like the reference's single-pass
    chain (topology.go:204-218). Transforms and barriers keep their
    place and order."""
    preds: list[Column] = []
    remaining: list[Operator] = []
    written: set[str] = set()
    barrier = False
    for op in ops:
        kp = op.keep_predicate()
        hoisted = (
            not barrier
            and kp is not None
            and not op.expensive_predicate
            and op.reads is not None
            and not (set(op.reads) & written)
        )
        if hoisted:
            preds.append(kp)
        if hoisted and op.writes == []:
            pass  # pure predicate, fully represented by the hoisted filter
        else:
            remaining.append(op)
        if op.writes is None:
            barrier = True
        else:
            written |= set(op.writes)
    return preds, remaining
