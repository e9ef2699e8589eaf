"""Row-operator inventory (SURVEY.md §2.2 + §2.5).

Importing this package registers every operator in
``baker_spark.operators.base.REGISTRY`` for name-based construction by
the TOML topology compiler.
"""

from baker_spark.operators.base import (  # noqa: F401
    Operator,
    REGISTRY,
    chain,
    create,
    is_empty,
    register,
)
from baker_spark.operators.clausefilter import ClauseFilter  # noqa: F401
from baker_spark.operators.transforms import (  # noqa: F401
    ClearFields,
    Concatenate,
    ExpandJSON,
    ExpandList,
    FormatTime,
    Hash,
    NotNull,
    PartialClone,
    RegexMatch,
    ReplaceFields,
    Slice,
    StringMatch,
    Timestamp,
    TimestampRange,
    URLEscape,
    URLParam,
)
from baker_spark.operators.stateful import CountAndTag, Crypt, Dedup, ExternalMatch  # noqa: F401
from baker_spark.operators.metadata import (  # noqa: F401
    MetadataLastModified,
    MetadataUrl,
    SetStringFromURL,
)
from baker_spark.operators.topology import (  # noqa: F401
    Explode,
    FieldSelect,
    Shard,
    Validation,
)
from baker_spark.operators.datapipe_filters import (  # noqa: F401
    C4Clean,
    C4Filter,
    ExactSubstrClean,
    GopherQuality,
    GopherRepetition,
    KnPerplexityDrop,
    NearDupDrop,
    UrlDedup,
)
