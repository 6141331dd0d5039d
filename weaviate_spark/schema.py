"""Schema registry + auto-schema inference (SURVEY §1.2, §3.3).

A Collection is a named, typed container (entities/models/class.go); its
properties map to Spark StructFields via the §1.2 type table. Index
toggles (indexFilterable / indexSearchable / indexRangeFilters,
tokenization) are carried as metadata and validated at query-build time
— Spark needs no physical index, but the legality rules are preserved
(e.g. BM25 only over searchable text props,
entities/searchparams/retrieval.go:54-65).

Auto-schema (usecases/objects/auto_schema.go:82,232 determineType):
values arriving as strings are sniffed with the reference's exact
shape-guards:
* couldBeRFC3339 (:220-222): '-' at 4 and 7, 'T'/'t' at 10, len >= 20,
  then a real datetime parse -> date.
* couldBeUUID (:226-231): len in {32, 36, 38, 45}, then a real uuid
  parse -> uuid.
* bool -> boolean, int -> int, float -> number,
  {latitude, longitude} dict -> geoCoordinates, nested dict -> object,
  lists recurse to array types, bytes -> blob; fallback text.
"""

from __future__ import annotations

import re
import uuid as uuid_mod
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import types as T

WEAVIATE_TO_SPARK: dict[str, T.DataType] = {
    "text": T.StringType(),
    "string": T.StringType(),          # deprecated alias
    "int": T.LongType(),
    "number": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.TimestampType(),         # ns -> µs documented divergence
    "uuid": T.StringType(),            # canonical lowercase
    "geoCoordinates": T.StructType([
        T.StructField("latitude", T.FloatType()),
        T.StructField("longitude", T.FloatType()),
    ]),
    "phoneNumber": T.StructType([
        T.StructField("input", T.StringType()),
        T.StructField("defaultCountry", T.StringType()),
        T.StructField("internationalFormatted", T.StringType()),
        T.StructField("nationalFormatted", T.StringType()),
        T.StructField("countryCode", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]),
    "blob": T.BinaryType(),
    "blobHash": T.StringType(),        # sha256 hex
}


@dataclass
class Property:
    name: str
    data_type: str                      # weaviate type name, "text[]" for arrays
    tokenization: str = "word"
    index_filterable: bool = True
    index_searchable: bool = True       # only meaningful for text/text[]
    index_range_filters: bool = False
    nested: list["Property"] = field(default_factory=list)

    def spark_type(self) -> T.DataType:
        dt = self.data_type
        if dt.endswith("[]"):
            return T.ArrayType(Property(self.name, dt[:-2], nested=self.nested).spark_type())
        if dt == "object":
            return T.StructType([
                T.StructField(p.name, p.spark_type()) for p in self.nested
            ])
        if dt not in WEAVIATE_TO_SPARK:
            # cref: class names as dataType -> beacon array
            return T.ArrayType(T.StructType([
                T.StructField("beacon", T.StringType()),
                T.StructField("className", T.StringType()),
                T.StructField("id", T.StringType()),
            ]))
        return WEAVIATE_TO_SPARK[dt]

    def searchable(self) -> bool:
        """HasSearchableIndex (retrieval.go:54-65): text types only."""
        return self.index_searchable and self.data_type in ("text", "text[]", "string", "string[]")

    def is_reference(self) -> bool:
        """Cross-reference properties carry target class names (capital
        first letter, not a primitive name) as their dataType
        (entities/schema/data_types.go FindPropertyDataType)."""
        base = self.data_type[:-2] if self.data_type.endswith("[]") else self.data_type
        return base not in WEAVIATE_TO_SPARK and base != "object"

    def pointing_to(self) -> list[str]:
        """Ref target class list — reference PointingTo == the
        property's DataType entries (traverser_aggregate.go:170-174,
        aggregation/params.go:148-150)."""
        if not self.is_reference():
            return []
        return [t.strip() for t in self.data_type.split(",")]

    def aggregation_type(self) -> tuple[str, str]:
        """(type, schemaType) the `type` aggregator reports
        (entities/aggregation/result.go:39-46 PropertyType buckets +
        traverser_aggregate.go:150-175 SchemaType = the schema DataType
        string; refs collapse to DataTypeCRef 'cref')."""
        if self.is_reference():
            return "cref", "cref"
        base = self.data_type[:-2] if self.data_type.endswith("[]") else self.data_type
        if base in ("int", "number"):
            return "numerical", self.data_type
        if base == "boolean":
            return "boolean", self.data_type
        if base == "date":
            return "date", self.data_type
        return "text", self.data_type


@dataclass
class Collection:
    name: str
    properties: list[Property] = field(default_factory=list)
    vector_dim: int | None = None
    multi_tenancy: bool = False
    # named vector spaces (models.Vectors, entities/dto/dto.go:73-107):
    # name -> dimension; stored as a `_vectors` STRUCT column (one
    # array<float> field per name) so Parquet nested-schema pruning
    # reads only the searched space
    named_vectors: dict[str, int] = field(default_factory=dict)
    # vector index types; 'none' = dropped (the controlled sentinel,
    # test/acceptance/alter_schema/drop_vector_index_test.go:216) —
    # set through drop_vector_index(), never directly
    vector_index_type: str = "hnsw"
    named_vector_index_types: dict[str, str] = field(default_factory=dict)
    # invertedIndexConfig.IndexNullState analogue (inverted/config_update
    # .go:64 — immutable after creation in the reference). Parquet
    # records nulls natively so the "index" costs nothing here; we
    # default it ON and keep the flag purely as the reference's
    # query-path gate: IsNull filters error when it is off.
    index_null_state: bool = True

    def spark_schema(self, with_reserved: bool = True) -> T.StructType:
        fields = [T.StructField(p.name, p.spark_type()) for p in self.properties]
        if with_reserved:
            fields = [
                T.StructField("_id", T.StringType(), False),
                *fields,
                T.StructField("_creationTimeUnix", T.LongType()),
                T.StructField("_lastUpdateTimeUnix", T.LongType()),
            ]
            if self.vector_dim:
                fields.append(T.StructField("_vector", T.ArrayType(T.FloatType())))
            if self.named_vectors:
                fields.append(T.StructField("_vectors", T.StructType([
                    T.StructField(n, T.ArrayType(T.FloatType()))
                    for n in self.named_vectors
                ])))
            if self.multi_tenancy:
                fields.append(T.StructField("_tenant", T.StringType()))
        return T.StructType(fields)

    def property(self, name: str) -> Property:
        for p in self.properties:
            if p.name == name:
                return p
        raise KeyError(f"no property {name!r} in collection {self.name}")

    def to_class_dict(self) -> dict:
        """The models.Class JSON shape (entities/models/class.go —
        what GET /v1/schema/{class} and the v4 client's
        ``collection.config.get()`` return): properties with dataType
        LISTS (refs carry their target classes as entries), index
        flags, tokenization, nestedProperties, plus the
        vectorIndexType / vectorConfig / multiTenancyConfig blocks
        this engine models."""
        def prop_dict(p: Property) -> dict:
            if p.is_reference():
                data_type = p.pointing_to()
            else:
                data_type = [p.data_type]
            out = {
                "name": p.name,
                "dataType": data_type,
                "indexFilterable": p.index_filterable,
                "indexSearchable": p.searchable(),
                "indexRangeFilters": p.index_range_filters,
            }
            if p.data_type in ("text", "text[]", "string", "string[]"):
                out["tokenization"] = p.tokenization
            if p.nested:
                out["nestedProperties"] = [prop_dict(n)
                                           for n in p.nested]
            return out

        cls: dict = {
            "class": self.name,
            "properties": [prop_dict(p) for p in self.properties],
            "invertedIndexConfig": {
                "indexNullState": self.index_null_state,
            },
            "multiTenancyConfig": {"enabled": self.multi_tenancy},
            "vectorIndexType": self.vector_index_type,
        }
        if self.named_vectors:
            cls["vectorConfig"] = {
                name: {
                    "vectorIndexType":
                        self.named_vector_index_types.get(name, "hnsw"),
                    "dimensions": dim,
                }
                for name, dim in sorted(self.named_vectors.items())
            }
        if self.vector_dim is not None:
            cls["vectorIndexConfig"] = {"dimensions": self.vector_dim}
        return cls


def collection_from_class_dict(d: dict) -> Collection:
    """Inverse of ``Collection.to_class_dict`` — parse the models.Class
    JSON shape (schema import, restore-from-backup, v4
    ``collections.create_from_dict``). Round-trip invariant pinned by
    test: ``collection_from_class_dict(c.to_class_dict()) ==
    c`` for every field this engine models."""
    def parse_prop(p: dict) -> Property:
        dts = p.get("dataType") or ["text"]
        if len(dts) == 1 and (dts[0] in WEAVIATE_TO_SPARK
                              or dts[0].rstrip("[]") in WEAVIATE_TO_SPARK
                              or dts[0] in ("object", "object[]",
                                            "blob", "blobHash")):
            data_type = dts[0]
        else:
            data_type = ",".join(dts)  # cref target list
        return Property(
            name=p["name"],
            data_type=data_type,
            tokenization=p.get("tokenization", "word"),
            index_filterable=p.get("indexFilterable", True),
            index_searchable=p.get("indexSearchable", True),
            index_range_filters=p.get("indexRangeFilters", False),
            nested=[parse_prop(n)
                    for n in p.get("nestedProperties", [])],
        )

    vc = d.get("vectorConfig") or {}
    return Collection(
        name=d["class"],
        properties=[parse_prop(p) for p in d.get("properties", [])],
        vector_dim=(d.get("vectorIndexConfig") or {}).get("dimensions"),
        multi_tenancy=(d.get("multiTenancyConfig") or {})
        .get("enabled", False),
        named_vectors={n: c.get("dimensions") for n, c in vc.items()},
        vector_index_type=d.get("vectorIndexType", "hnsw"),
        named_vector_index_types={
            n: c.get("vectorIndexType", "hnsw") for n, c in vc.items()},
        index_null_state=(d.get("invertedIndexConfig") or {})
        .get("indexNullState", True),
    )


# ---------------------------------------------------------------------------
# auto-schema (determineType)

def could_be_rfc3339(s: str) -> bool:
    """auto_schema.go:220-222."""
    return len(s) >= 20 and s[4] == "-" and s[7] == "-" and s[10] in ("T", "t")


def could_be_uuid(s: str) -> bool:
    """auto_schema.go:226-231."""
    return len(s) in (32, 36, 38, 45)


def determine_type(value, of_nested: bool = False) -> str:
    """Port of determineType (auto_schema.go:232-...): infer the
    weaviate type of a JSON-ish python value."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "number"
    if isinstance(value, bytes):
        return "blob"
    if isinstance(value, str):
        if could_be_rfc3339(value):
            try:
                datetime.fromisoformat(value.replace("Z", "+00:00"))
                return "date"
            except ValueError:
                pass
        if could_be_uuid(value):
            try:
                uuid_mod.UUID(value.strip("{}").removeprefix("urn:uuid:"))
                return "uuid"
            except ValueError:
                pass
        return "text"
    if isinstance(value, dict):
        if set(value) == {"latitude", "longitude"}:
            return "geoCoordinates"
        return "object"
    if isinstance(value, (list, tuple)):
        if not value:
            return "text[]"
        return determine_type(value[0], of_nested) + "[]"
    if value is None:
        return "text"
    raise TypeError(f"cannot infer weaviate type for {type(value)}")


def infer_collection(name: str, sample: dict) -> Collection:
    """Auto-schema a collection from one sample object (first-write
    inference, auto_schema.go:82)."""
    props = [
        Property(k, determine_type(v))
        for k, v in sample.items()
        if not k.startswith("_")
    ]
    return Collection(name=name, properties=props)


# ---------------------------------------------------------------------------
# aliases (usecases/objects/alias/, entities/dto/dto.go:70): alternate
# collection names resolved at the registry level.
#
# namespaces (cluster/namespaces/, usecases/schema/namespacing/, SURVEY
# §1.1): a grouping level above collections — the Spark mapping is the
# database/schema level of a catalog. Qualified names are
# "<namespace>:<Class>" (entities/schema/validation.go:114
# NamespaceSeparator); unqualified names live in the root namespace "".
# Name rules mirror ValidateNamespaceNameSyntax (3-36 chars, lowercase
# letters/digits/hyphens, no leading/trailing hyphen) and the reserved
# list (usecases/namespaces/controller.go:93).

import re as _re

NAMESPACE_SEPARATOR = ":"
NAMESPACE_MIN_LEN, NAMESPACE_MAX_LEN = 3, 36
_NAMESPACE_RE = _re.compile(r"^[a-z0-9]([a-z0-9-]*[a-z0-9])?$")
RESERVED_NAMESPACES = frozenset(
    {"admin", "system", "default", "internal", "weaviate", "global", "public"}
)


def qualified_name(namespace: str, name: str) -> str:
    """Join namespace and name (namespacing/resolver.go QualifiedName);
    empty namespace returns the name unchanged."""
    if not namespace:
        return name
    return namespace + NAMESPACE_SEPARATOR + name


def namespace_from_qualified(name: str) -> str:
    """Namespace portion of '<ns>:<entity>'; '' when unqualified."""
    ns, sep, _ = name.partition(NAMESPACE_SEPARATOR)
    return ns if sep else ""


def validate_namespace_name(name: str) -> None:
    """Syntax + reserved-name check (ValidateNamespaceNameSyntax +
    controller.go:422; reference splits them across layers, the policy
    is identical)."""
    if not (NAMESPACE_MIN_LEN <= len(name) <= NAMESPACE_MAX_LEN):
        raise ValueError(
            f"namespace name {name!r} must be "
            f"{NAMESPACE_MIN_LEN}-{NAMESPACE_MAX_LEN} characters"
        )
    if not _NAMESPACE_RE.match(name):
        raise ValueError(
            f"namespace name {name!r} must contain only lowercase letters, "
            "digits, and hyphens, must start and end with a letter or "
            "digit, and must not contain ':'"
        )
    if name in RESERVED_NAMESPACES:
        raise ValueError(f"namespace name {name!r} is reserved")


# namespace states + legal transitions (usecases/namespaces/
# controller.go:108-124 stateTransitions; deleting is terminal)
NS_ACTIVE = "active"
NS_SUSPENDED = "suspended"
NS_RESUMING = "resuming"
NS_DELETING = "deleting"
NS_TRANSITIONS: dict[str, set[str]] = {
    NS_ACTIVE: {NS_SUSPENDED, NS_DELETING},
    NS_SUSPENDED: {NS_RESUMING, NS_ACTIVE, NS_DELETING},
    NS_RESUMING: {NS_ACTIVE, NS_SUSPENDED, NS_DELETING},
    NS_DELETING: set(),
}


class Registry:
    """Collection registry with namespace level and alias indirection.

    Resolution order for a (possibly qualified) name: alias lookup on
    the exact string first, then collection lookup — matching the
    reference resolver, where aliases are themselves namespace-qualified
    entities (usecases/schema/namespacing/resolver.go)."""

    def __init__(self) -> None:
        self._collections: dict[str, Collection] = {}
        self._aliases: dict[str, str] = {}
        self._namespaces: set[str] = set()
        # namespace -> state (usecases/namespaces/controller.go
        # stateTransitions); absent = ACTIVE for pre-state registries
        self._ns_state: dict[str, str] = {}

    # -- namespace lifecycle (cluster/namespaces/namespaces.go Add /
    # RemoveEntity / List; usecases/namespaces/controller.go states +
    # usecases/namespace_cleanup/coordinator.go async teardown)
    def create_namespace(self, name: str) -> None:
        validate_namespace_name(name)
        if name in self._namespaces:
            # Create on a deleting namespace names the teardown, not a
            # duplicate (controller.go:187-190)
            if self._ns_state.get(name) == NS_DELETING:
                raise ValueError(
                    f'namespace is being deleted: "{name}"')
            raise ValueError(f"namespace {name!r} already exists")
        self._namespaces.add(name)
        self._ns_state[name] = NS_ACTIVE

    def namespace_state(self, name: str) -> str:
        if name not in self._namespaces:
            raise KeyError(f'namespace not found: "{name}"')
        return self._ns_state.get(name, NS_ACTIVE)

    def change_namespace_state(self, name: str, target: str) -> None:
        """ChangeState (controller.go:313-340): transition-table
        enforced; same-state is a no-op; deleting is terminal."""
        if target not in NS_TRANSITIONS:
            raise ValueError(f'unknown namespace state "{target}"')
        cur = self.namespace_state(name)
        if cur == target:
            return
        if target not in NS_TRANSITIONS[cur]:
            raise ValueError(
                f'invalid namespace state transition: "{name}" is '
                f"{cur}, cannot transition to {target}")
        self._ns_state[name] = target

    def delete_namespace(self, name: str) -> None:
        """Mark DELETING (terminal); the actual teardown is
        cleanup_namespaces — the async coordinator's job."""
        self.change_namespace_state(name, NS_DELETING)

    def list_deleting(self) -> list[str]:
        """namespaceLister.ListDeleting (coordinator.go:19-21)."""
        return sorted(n for n in self._namespaces
                      if self._ns_state.get(n) == NS_DELETING)

    def cleanup_namespaces(self) -> dict[str, dict]:
        """One coordinator Tick (coordinator.go:144-243): for every
        DELETING namespace delete its aliases, then its classes (with
        their alias cascade), then remove the namespace entity.
        Returns {namespace: {'aliases': [...], 'classes': [...]}}."""
        done: dict[str, dict] = {}
        for ns in self.list_deleting():
            prefix = ns + ":"
            aliases = sorted(a for a in self._aliases
                             if a.startswith(prefix))
            for a in aliases:
                del self._aliases[a]
            classes = sorted(c for c in self._collections
                             if namespace_from_qualified(c) == ns)
            for c in classes:
                del self._collections[c]
                self.drop_collection_aliases(c)
            self._namespaces.discard(ns)
            self._ns_state.pop(ns, None)
            done[ns] = {"aliases": aliases, "classes": classes}
        return done

    def drop_namespace(self, name: str) -> None:
        if name not in self._namespaces:
            raise KeyError(f"unknown namespace {name!r}")
        held = [
            c for c in self._collections
            if namespace_from_qualified(c) == name
        ]
        if held:
            raise ValueError(
                f"namespace {name!r} still holds collections: {sorted(held)}"
            )
        self._namespaces.discard(name)
        self._ns_state.pop(name, None)

    def list_namespaces(self) -> list[str]:
        return sorted(self._namespaces)

    # -- collections / aliases
    def add(self, coll: Collection, namespace: str = "") -> None:
        from weaviate_spark import usage_limits as UL

        key = (qualified_name(namespace, coll.name) if namespace
               else coll.name)
        if key not in self._collections:
            # the cap counts NEW collections only — replacing an
            # existing one (a schema update) never grows the count and
            # must not be blocked by it
            UL.check_collections(len(self._collections))
        # class and alias names share one resolution space — a class
        # may not take a name an alias already resolves (alias.go's
        # create validation runs the same name rules for both)
        if key in self._aliases:
            raise ValueError(
                f"class name {key!r} already exists as an alias")
        if namespace:
            if namespace not in self._namespaces:
                raise KeyError(f"unknown namespace {namespace!r}")
            if self._ns_state.get(namespace) == NS_DELETING:
                raise ValueError(
                    f'namespace is being deleted: "{namespace}"')
            self._collections[qualified_name(namespace, coll.name)] = coll
        else:
            self._collections[coll.name] = coll

    def drop(self, name: str) -> None:
        """deleteClass (cluster/schema/schema.go:392-419) + the handler's
        alias cascade: removing a class removes every alias that points
        at it. Unknown class -> KeyError."""
        if name not in self._collections:
            raise KeyError(f"unknown collection {name!r}")
        del self._collections[name]
        self.drop_collection_aliases(name)

    def add_alias(self, alias: str, target: str) -> None:
        """AddAlias (usecases/schema/alias.go:88-139): the target class
        must exist, the alias may not shadow a class name, and
        re-creating an existing alias is an error (ErrAliasExists)."""
        if target not in self._collections:
            raise KeyError(f"alias target {target!r} is not a known collection")
        if alias in self._collections:
            raise ValueError(f"alias {alias!r} shadows an existing collection")
        if alias in self._aliases:
            raise ValueError(f"alias {alias!r} already exists")
        self._aliases[alias] = target

    def get_aliases(self, alias: str = "", class_name: str = "") -> dict[str, str]:
        """GetAliases (alias.go:28-63): all aliases, optionally narrowed
        to one alias name and/or one target class."""
        return {a: c for a, c in self._aliases.items()
                if (not alias or a == alias)
                and (not class_name or c == class_name)}

    def update_alias(self, alias: str, target: str) -> str:
        """UpdateAlias (alias.go:139-184): retarget an EXISTING alias to
        an EXISTING class; returns the new target."""
        if alias not in self._aliases:
            raise KeyError(f"no alias found with name: {alias}")
        if target not in self._collections:
            raise KeyError(f"target class {target!r} does not exist")
        self._aliases[alias] = target
        return target

    def delete_alias(self, alias: str) -> None:
        """DeleteAlias (alias.go:186-...): unknown alias -> not found."""
        if alias not in self._aliases:
            raise KeyError(f"alias {alias} not found")
        del self._aliases[alias]

    def drop_collection_aliases(self, class_name: str) -> list[str]:
        """Class deletion cascades to its aliases (the raft schema
        deletes alias entries pointing at a dropped class); returns the
        removed alias names."""
        gone = [a for a, c in self._aliases.items() if c == class_name]
        for a in gone:
            del self._aliases[a]
        return gone

    def resolve_key(self, name: str) -> str:
        """Canonical storage key after alias indirection — the
        namespace-QUALIFIED name for namespaced collections (distinct
        namespaces keep distinct keys; Collection.name alone would
        collapse them)."""
        name = self._aliases.get(name, name)
        if name not in self._collections:
            ns = namespace_from_qualified(name)
            if ns and ns not in self._namespaces:
                raise KeyError(f"unknown namespace {ns!r}")
            raise KeyError(f"unknown collection {name!r}")
        return name

    def resolve(self, name: str) -> Collection:
        return self._collections[self.resolve_key(name)]


# ---------------------------------------------------------------------------
# Alter-schema operations (test/acceptance/alter_schema/: delete a
# property's index, drop a vector index, reject the 'none' sentinel,
# update-after-drop). The index flags already live on Property /
# Collection; these helpers give them the reference's MUTATION and
# ENFORCEMENT semantics: the query paths reject unindexed access with
# the reference's exact error text (entities/inverted/errors.go:21-44).
# Derived artifacts depend on the table files only, so a flag flip
# leaves them valid (the registry's file stamps decide staleness).

# user-settable vector index types; 'none' is the CONTROLLED sentinel a
# drop writes (drop_vector_index_reject_test.go: users cannot set it
# directly to bypass the managed drop path)
VECTOR_INDEX_TYPES = ("hnsw", "flat", "dynamic")


class MissingIndexError(ValueError):
    pass


class VectorIndexDroppedError(ValueError):
    pass


_MISSING_FILTERABLE_FMT = (
    "Filtering by property '{p}' requires inverted index. "
    "Is `indexFilterable` option of property '{p}' enabled? "
    "Set it to `true` or leave empty"
)
_MISSING_SEARCHABLE_FMT = (
    "Searching by property '{p}' requires inverted index. "
    "Is `indexSearchable` option of property '{p}' enabled? "
    "Set it to `true` or leave empty"
)


# ---------------------------------------------------------------------------
# Name validation (entities/schema/validation.go) — the user-facing
# creation rules with the reference's exact error texts. The engine's
# internal table names (lowercase driver tables) bypass these on
# purpose: the reference likewise only validates on CREATION paths
# (validation.go:290-292 note on legacy names).

CLASS_NAME_MAX_LENGTH = 255            # validation.go:77
_CLASS_NAME_RE = re.compile(r"^[A-Z][_0-9A-Za-z]{0,254}$")
PROPERTY_NAME_MAX_LENGTH = 231         # validation.go:95
PROPERTY_NAME_REGEX = "[_A-Za-z][_0-9A-Za-z]{0,230}"
_PROPERTY_NAME_RE = re.compile(f"^{PROPERTY_NAME_REGEX}$")
NESTED_PROPERTY_NAME_REGEX = "[_A-Za-z][_0-9A-Za-z]*"
_NESTED_PROPERTY_NAME_RE = re.compile(f"^{NESTED_PROPERTY_NAME_REGEX}$")
_TENANT_NAME_RE = re.compile(r"^[A-Za-z0-9\-\_]{1,64}$")

RESERVED_PROPERTY_NAMES = ("_additional", "_id", "id")
# suffixes that collide with internal bucket/dir names
# (validation.go:24-30,43-51)
RESERVED_PROPERTY_NAME_SUFFIXES = (
    "_searchable", "_rangeable", "_temp", "__meta_count",
    "_propertyLength", "_nullState",
)


def _validate_class_or_alias_name(name: str, typ: str) -> str:
    if len(name) > CLASS_NAME_MAX_LENGTH:
        raise ValueError(
            f"'{name}' is not a valid {typ} name. Name should not be "
            f"longer than {CLASS_NAME_MAX_LENGTH} characters")
    if not _CLASS_NAME_RE.match(name):
        raise ValueError(f"'{name}' is not a valid {typ} name")
    return name


def validate_class_name(name: str) -> str:
    """ValidateClassName (validation.go:153): GraphQL-shaped,
    capitalized, ≤255 chars, no ':'."""
    return _validate_class_or_alias_name(name, "class")


def validate_alias_name(name: str) -> str:
    """ValidateAliasName (validation.go:185): same rules as a class."""
    return _validate_class_or_alias_name(name, "alias")


def validate_property_name(name: str) -> str:
    """ValidatePropertyName (validation.go:266-277)."""
    if len(name) > PROPERTY_NAME_MAX_LENGTH:
        raise ValueError(
            f"'{name}' is not a valid property name. Name should not "
            f"be longer than {PROPERTY_NAME_MAX_LENGTH} characters")
    if not _PROPERTY_NAME_RE.match(name):
        raise ValueError(
            f"'{name}' is not a valid property name. Property names in "
            "Weaviate are restricted to valid GraphQL names, which "
            f"must be “/{PROPERTY_NAME_REGEX}/”")
    return name


def validate_nested_property_name(name: str, prefix: str) -> None:
    """ValidateNestedPropertyName (validation.go:280-287)."""
    if not _NESTED_PROPERTY_NAME_RE.match(name):
        raise ValueError(
            f"'{name}' is not a valid nested property name of "
            f"'{prefix}'. NestedProperty names in Weaviate are "
            "restricted to valid GraphQL names, which must be "
            f"“/{NESTED_PROPERTY_NAME_REGEX}/”")


def validate_reserved_property_name(name: str) -> None:
    """ValidateReservedPropertyName (validation.go:280-287)."""
    if name in RESERVED_PROPERTY_NAMES:
        raise ValueError(f"'{name}' is a reserved property name")


def validate_reserved_property_name_suffix(name: str) -> None:
    """ValidateReservedPropertyNameSuffix (validation.go:293-300):
    creation-path only — names whose suffix collides with internal
    bucket/dir names."""
    for suffix in RESERVED_PROPERTY_NAME_SUFFIXES:
        if name.endswith(suffix):
            raise ValueError(
                f"'{name}' is not a valid property name: suffix "
                f"'{suffix}' is reserved for internal indices")


def validate_tenant_name(name: str) -> None:
    """ValidateTenantName (validation.go:219-234)."""
    if _TENANT_NAME_RE.match(name):
        return
    if name == "":
        raise ValueError("empty tenant name")
    raise ValueError(
        f" '{name}' is not a valid tenant name. should only contain "
        "alphanumeric characters (a-z, A-Z, 0-9), underscore (_), and "
        "hyphen (-), with a length between 1 and 64 characters")


def validate_collection_definition(coll: Collection) -> None:
    """The creation-path name sweep (usecases/schema handler create):
    class name + every property (regex, reserved names, reserved
    suffixes) + nested property names."""
    validate_class_name(coll.name)
    for p in coll.properties:
        validate_property_name(p.name)
        validate_reserved_property_name(p.name)
        validate_reserved_property_name_suffix(p.name)
        for n in p.nested:
            validate_nested_property_name(n.name, p.name)


_TEXT_TOKENIZATIONS = ("field", "word", "whitespace", "lowercase",
                       "trigram")
_GATED_TOKENIZATIONS = {
    # tokenization -> (env-gate name in the reference, error text)
    "gse": ("ENABLE_TOKENIZER_GSE",
            "the GSE tokenizer is not enabled; set "
            "'ENABLE_TOKENIZER_GSE' to 'true' to enable"),
    "gse_ch": ("ENABLE_TOKENIZER_GSE_CH",
               "the Chinese tokenizer is not enabled; set "
               "'ENABLE_TOKENIZER_GSE_CH' to 'true' to enable"),
    "kagome_kr": ("ENABLE_TOKENIZER_KAGOME_KR",
                  "the Korean tokenizer is not enabled; set "
                  "'ENABLE_TOKENIZER_KAGOME_KR' to 'true' to enable"),
    "kagome_ja": ("ENABLE_TOKENIZER_KAGOME_JA",
                  "the Japanese tokenizer is not enabled; set "
                  "'ENABLE_TOKENIZER_KAGOME_JA' to 'true' to enable"),
}


def validate_property_tokenization(prop: Property,
                                   enabled_gates: set[str] | None = None
                                   ) -> None:
    """validatePropertyTokenization (usecases/schema/class.go:
    1213-1268) with the reference's texts. ``enabled_gates`` models
    the reference's ENABLE_TOKENIZER_* env flags; None = all enabled
    (this engine ships the CJK dictionaries, so the gates default
    OPEN — documented divergence; pass an explicit set for the
    reference's default-closed behavior)."""
    dt = prop.data_type
    tok = prop.tokenization
    base = dt[:-2] if dt.endswith("[]") else dt
    if prop.is_reference():
        if tok:
            raise ValueError(
                "tokenization is not allowed for reference data type")
        return
    if base == "object":
        if tok:
            raise ValueError("tokenization is not allowed for "
                             "object/object[] data types")
        return
    if base in ("string",):
        if tok in ("field", "word"):
            return
        raise ValueError(f"tokenization '{tok}' is not allowed for "
                         f"data type '{base}'")
    if base == "text":
        if tok in _TEXT_TOKENIZATIONS:
            return
        if tok in _GATED_TOKENIZATIONS or tok in (
                "gse_dict", "gse_bigram", "gse_all"):
            gate = _GATED_TOKENIZATIONS.get(tok)
            if gate and enabled_gates is not None \
                    and gate[0] not in enabled_gates:
                raise ValueError(gate[1])
            return
        raise ValueError(f"tokenization '{tok}' is not allowed for "
                         f"data type '{base}'")
    # non-text primitives accept only an EMPTY tokenization
    if tok in ("", None):
        return
    raise ValueError(f"tokenization is not allowed for data type "
                     f"'{base}'")


def add_class_property(coll: Collection, prop: Property,
                       enabled_gates: set[str] | None = None) -> None:
    """Handler.AddClassProperty's validation chain
    (usecases/schema/class.go:1006-1063 validateProperty) then the
    schema mutation: property name + reserved names, the
    case-insensitive duplicate conflict, nestedProperties only on
    object types, tokenization legality, and the text-only
    indexSearchable rule — all with the reference's exact texts."""
    validate_property_name(prop.name)
    validate_reserved_property_name(prop.name)
    existing = {p.name.lower() for p in coll.properties}
    if prop.name.lower() in existing:
        raise ValueError(
            f'class "{coll.name}": conflict for property '
            f'"{prop.name}": already in use or provided multiple times')
    base = prop.data_type[:-2] if prop.data_type.endswith("[]") \
        else prop.data_type
    if prop.nested and base != "object" and not prop.is_reference():
        raise ValueError(
            f"property '{prop.name}': nestedProperties not allowed "
            "for data types other than object/object[]")
    # Property has no tri-state: the dataclass default 'word' on a
    # non-text property is treated as UNSET and cleared, like
    # setPropertyDefaults; any OTHER tokenization on a non-text type
    # is explicit and validated below
    if base not in ("text", "string") and prop.tokenization == "word":
        prop.tokenization = ""
    validate_property_tokenization(prop, enabled_gates)
    # setPropertyDefaults (class.go:985-1003): non-text properties get
    # indexSearchable=false — our Property has no tri-state, so the
    # default True is COERCED here rather than raising the reference's
    # explicit-true error (searchable() already ignores non-text)
    if base not in ("text", "string") and not prop.is_reference():
        prop.index_searchable = False
    for n in prop.nested:
        validate_nested_property_name(n.name, prop.name)
    coll.properties.append(prop)


def validate_vector_index_type(index_type: str) -> None:
    """Creation/update validation: 'none' is reserved for the managed
    drop (drop_vector_index_reject_test.go)."""
    if index_type == "none":
        raise ValueError(
            "vector index type 'none' is reserved for dropped indexes — "
            "use drop_vector_index() instead of setting it directly")
    if index_type not in VECTOR_INDEX_TYPES:
        raise ValueError(
            f"unknown vector index type {index_type!r} "
            f"(expected one of {VECTOR_INDEX_TYPES})")


def delete_property_index(coll: Collection, prop_name: str,
                          filterable: bool = True,
                          searchable: bool = False) -> None:
    """Delete a property's inverted index (alter_schema_test.go:43-54):
    flip the flag(s) — subsequent filters/searches on the property are
    rejected by the validators below until the flag is re-enabled."""
    prop = coll.property(prop_name)
    if filterable:
        prop.index_filterable = False
    if searchable:
        prop.index_searchable = False


def drop_vector_index(coll: Collection, name: str | None = None) -> None:
    """Managed vector-index drop (drop_vector_index_test.go): the
    index type becomes the 'none' sentinel (observable on the schema,
    :216), and vector searches are rejected until a new index is
    configured. Non-vector operations
    (CRUD, filters, BM25) and further schema updates keep working
    (update_after_drop_vector_index_test.go)."""
    if name:
        if name not in coll.named_vectors:
            raise KeyError(f"no named vector {name!r} in {coll.name}")
        coll.named_vector_index_types[name] = "none"
    else:
        coll.vector_index_type = "none"


def validate_vector_search(coll: Collection, name: str | None = None) -> None:
    """Query-path gate: a dropped index rejects vector search with an
    actionable error instead of silently brute-forcing (the reference
    has no index to serve the query either)."""
    t = (coll.named_vector_index_types.get(name, "hnsw") if name
         else coll.vector_index_type)
    if t == "none":
        which = f"named vector {name!r}" if name else "the default vector"
        raise VectorIndexDroppedError(
            f"collection {coll.name!r}: the vector index for {which} has "
            "been dropped (vectorIndexType 'none'); configure a new index "
            "to run vector searches")


def validate_where_indexed(coll: Collection, clause) -> None:
    """Filter-path gate (searcher.go:915-919 →
    NewMissingFilterableIndexError): every property referenced by the
    where tree must have indexFilterable — including NESTED properties
    when the schema models them (searcher_nested.go gates each nested
    property on its own filterable flag, not the top-level object's).
    Path segments not modeled in the schema (reserved columns, len()
    pseudo-paths, ref hops) are left to the compiler's own resolution
    errors.

    IsNull additionally requires the collection-level null-state index
    (invertedIndexConfig.IndexNullState, shard_write_inverted_lsm.go:49
    — null hits are only recorded when the flag is on, so an IsNull
    filter without it cannot be served)."""
    if clause is None:
        return
    for c in clause.operands or ():
        validate_where_indexed(coll, c)
    if not clause.path:
        return
    if clause.operator == "IsNull" and not coll.index_null_state:
        raise MissingIndexError(
            f"class {coll.name!r}: IsNull filter on "
            f"{'.'.join(clause.path)!r} requires "
            "invertedIndexConfig.indexNullState; the null-state index "
            "is disabled for this collection")
    # walk the modeled Property chain along the full path; stop at the
    # first segment the schema doesn't model (compiler handles those)
    props = coll.properties
    for seg in clause.path:
        prop = next((p for p in props if p.name == seg), None)
        if prop is None:
            return
        if not prop.index_filterable:
            raise MissingIndexError(_MISSING_FILTERABLE_FMT.format(p=seg))
        props = prop.nested


def validate_search_properties(coll: Collection, prop_names) -> None:
    """BM25/hybrid keyword-leg gate (searcher analysis path →
    NewMissingSearchableIndexError)."""
    for name in prop_names:
        try:
            prop = coll.property(name)
        except KeyError:
            continue
        if not (prop.index_searchable and prop.searchable()):
            raise MissingIndexError(_MISSING_SEARCHABLE_FMT.format(p=name))
