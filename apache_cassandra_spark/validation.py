"""Input validation — the ``ThriftValidation`` analog
(reference ``thrift/ThriftValidation.java:280-360``): reject malformed
coordinates *before* they reach storage, with the same rules the server
enforced (empty keys, unknown CFs, mis-addressed super/standard paths,
comparator-invalid column names).
"""

from __future__ import annotations

from apache_cassandra_spark.catalog import Catalog, CFDef
from apache_cassandra_spark.model import ColumnPath, Deletion, KeyRange, Mutation


class InvalidRequest(Exception):
    """Analog of thrift InvalidRequestException."""


MAX_KEY_LENGTH = 2**16 - 1  # FBUtilities.MAX_UNSIGNED_SHORT key-length bound


def validate_key(key: str) -> None:
    if key is None or key == "":
        raise InvalidRequest("key may not be empty")
    if len(key.encode()) > MAX_KEY_LENGTH:
        raise InvalidRequest(f"key length {len(key)} exceeds {MAX_KEY_LENGTH}")


def validate_cf(catalog: Catalog, keyspace: str, cf_name: str) -> CFDef:
    if keyspace not in catalog.keyspaces:
        raise InvalidRequest(f"unknown keyspace {keyspace!r}")
    try:
        return catalog.keyspace(keyspace).cf(cf_name)
    except KeyError:
        raise InvalidRequest(f"unknown column family {keyspace}.{cf_name}") from None


def validate_column_name(cfdef: CFDef, name: bytes, sub: bool = False) -> None:
    if name is None or len(name) == 0:
        raise InvalidRequest("column name may not be empty")
    if len(name) > MAX_KEY_LENGTH:
        # test_server.py:545 test_column_name_lengths: 2^16-1 ok, 2^16 rejected
        raise InvalidRequest(f"column name length {len(name)} exceeds {MAX_KEY_LENGTH}")
    comparator = cfdef.subcomparator if sub else cfdef.comparator
    if comparator.name == "LongType" and len(name) != 8:
        raise InvalidRequest(f"LongType column names must be 8 bytes (got {len(name)})")
    if comparator.name in ("TimeUUIDType", "LexicalUUIDType") and len(name) != 16:
        raise InvalidRequest(f"{comparator.name} column names must be 16 bytes (got {len(name)})")
    if comparator.name == "AsciiType":
        try:
            name.decode("ascii")
        except UnicodeDecodeError:
            raise InvalidRequest("AsciiType column name is not US-ASCII") from None
    if comparator.name == "UTF8Type":
        try:
            name.decode("utf-8")
        except UnicodeDecodeError:
            raise InvalidRequest("UTF8Type column name is not UTF-8") from None


def validate_column_path(catalog: Catalog, keyspace: str, path: ColumnPath) -> CFDef:
    """``validateColumnPath``: Standard CFs reject super_column addressing;
    Super CFs require the super_column when a column is named."""
    cfdef = validate_cf(catalog, keyspace, path.column_family)
    if not cfdef.is_super:
        if path.super_column is not None:
            raise InvalidRequest(f"supercolumn specified for standard CF {path.column_family}")
        if path.column is not None:
            validate_column_name(cfdef, path.column)
    else:
        if path.super_column is not None:
            validate_column_name(cfdef, path.super_column)
        if path.column is not None:
            if path.super_column is None:
                raise InvalidRequest("column specified without supercolumn for super CF")
            validate_column_name(cfdef, path.column, sub=True)
    return cfdef


def validate_column_parent(catalog: Catalog, keyspace: str, cf_name: str, super_column: bytes | None) -> CFDef:
    """``validateColumnParent``: the slice/count/range reads address a
    (cf, super_column?) parent — the same rules as a column-less path."""
    return validate_column_path(catalog, keyspace, ColumnPath(cf_name, super_column=super_column))


def validate_key_range(key_range: KeyRange) -> None:
    """``validateKeyRange``: rows are addressed by keys or by tokens, not
    both, and at least one row must be asked for."""
    has_keys = key_range.start_key is not None or key_range.end_key is not None
    has_tokens = key_range.start_token is not None or key_range.end_token is not None
    if has_keys and has_tokens:
        raise InvalidRequest("key range may set key bounds or token bounds, not both")
    if key_range.count < 1:
        raise InvalidRequest(f"key range count must be positive (got {key_range.count})")


def validate_mutation(catalog: Catalog, keyspace: str, cf_name: str, m: Mutation) -> None:
    """``validateMutation``: exactly one of insert / deletion."""
    cfdef = validate_cf(catalog, keyspace, cf_name)
    has_insert = m.column_name is not None
    has_delete = m.deletion is not None
    if has_insert == has_delete:
        raise InvalidRequest("mutation must contain exactly one of column/value or deletion")
    if has_insert:
        if m.timestamp is None:
            raise InvalidRequest("insert mutation requires a timestamp")
        if m.super_column is not None and not cfdef.is_super:
            raise InvalidRequest(f"supercolumn specified for standard CF {cf_name}")
        if m.super_column is None and cfdef.is_super:
            # the reference rejects a bare Column mutation on a Super CF
            # (ThriftValidation.validateColumnOrSuperColumn)
            raise InvalidRequest(f"column mutation without supercolumn on super CF {cf_name}")
        if m.super_column is not None:
            validate_column_name(cfdef, m.super_column)
        validate_column_name(cfdef, m.column_name, sub=m.super_column is not None)
    else:
        validate_deletion(cfdef, m.deletion)


def validate_deletion(cfdef: CFDef, d: Deletion) -> None:
    if d.super_column is not None and not cfdef.is_super:
        raise InvalidRequest(f"supercolumn deletion on standard CF {cfdef.name}")
    if d.predicate is not None and d.predicate.column_names is None:
        raise InvalidRequest("deletion predicate must be by column names (0.6 semantics)")
    if d.predicate is not None:
        for n in d.predicate.column_names:
            validate_column_name(cfdef, n, sub=d.super_column is not None)


def validate_slice_range(cfdef: CFDef, predicate, super_column: bytes | None = None) -> None:
    """``ThriftValidation.validateRange``: a non-empty start must not sort
    after a non-empty finish (or before it when reversed), under the
    comparator the slice addresses (sub-comparator when a supercolumn
    coordinate is given; the supercolumn comparator at the parent level).
    Also rejects bounds the comparator cannot decode (e.g. a 3-byte
    LongType name — test_server.py:557 test_bad_calls)."""
    sr = getattr(predicate, "slice_range", None)
    if sr is None:
        return
    sub = cfdef.is_super and super_column is not None
    comparator = cfdef.subcomparator if sub else cfdef.comparator
    for bound in (sr.start, sr.finish):
        if bound:
            _validate_decodable_name(comparator, bound)
    if sr.start and sr.finish:
        a, b = comparator.py_key(sr.start), comparator.py_key(sr.finish)
        if sr.reversed and a < b:
            raise InvalidRequest("range finish must come before start in reversed order")
        if not sr.reversed and a > b:
            raise InvalidRequest("range finish must come after start")


def _validate_decodable_name(comparator, name: bytes) -> None:
    if comparator.name == "LongType" and len(name) != 8:
        raise InvalidRequest(f"LongType slice bound must be 8 bytes (got {len(name)})")
    if comparator.name in ("TimeUUIDType", "LexicalUUIDType") and len(name) != 16:
        raise InvalidRequest(f"{comparator.name} slice bound must be 16 bytes (got {len(name)})")
