"""Changelog core: dotted-path edit application and diff extraction.

The reference stores every write as an operation carrying ``create`` /
``edit`` / ``delete`` sections; edits are maps of dotted path → change op
(``{"set": v}``, ``{"append": v}``, ``{"appendmany": [v...]}`` or the
literal string ``"delete"``) plus a ``current`` map of old values
(reference: ``PlaceOpObjectHelper.java:120-169,259-269``,
``MergePlaceBot.java:43-45``, patch corpus
``openplacereviews-boot/src/main/resources/patches/block_*.json``).
Paths are dotted with ``[i]`` array indices, and path segments that
contain dots/brackets are ``{...}``-quoted
(``PlaceOpObjectHelper.java:140-148``).

This module is the Spark-first re-expression:

- pure-Python kernel (``parse_path`` / ``format_path`` /
  ``apply_change_map`` / ``generate_diff``) — golden-testable, reused by
  the distributed fold;
- ``apply_operations`` — the batch **changelog fold** (M9): documents ⟕
  operations cogrouped on the document key, each group folded in
  (block_id, op_seq) order inside one Arrow batch.  The shuffle key is
  the document key, so at 100 TB each task folds an independent slice
  and no group is ever larger than one document's op history.
- ``extract_diff`` — the CDC extractor (E1/M2): old vs new snapshot →
  changelog rows.

Documents travel as JSON strings (the reference's documents are
schemaless JSONB); typed *views* are projected with ``get_json_object``
/ ``from_json`` downstream, so Catalyst still prunes and pushes down on
the key columns that matter (tile/id) while the opaque payload stays a
single column.
"""

from __future__ import annotations

import json
from typing import Any, Iterable

try:  # pragma: no cover - orjson is an optional fast path
    import orjson

    def _loads(s: str) -> Any:
        return orjson.loads(s)

    def _dumps_sorted(doc: Any) -> str:
        # ~2-3x faster than json.dumps on the M9 output path; compact
        # separators are safe because every consumer parses the JSON
        # (from_json / loads), never string-matches it.  Non-ASCII is
        # emitted raw, same as ensure_ascii=False.
        return orjson.dumps(doc, option=orjson.OPT_SORT_KEYS).decode()
except ImportError:  # pragma: no cover
    _loads = json.loads

    def _dumps_sorted(doc: Any) -> str:
        return json.dumps(doc, sort_keys=True, ensure_ascii=False,
                          separators=(",", ":"))


#: public name for the canonical document serialization (sorted keys,
#: compact separators) — goldens that string-compare folded docs MUST
#: build their expected strings with this, not ad-hoc json.dumps, so the
#: byte form has exactly one definition in the codebase.
dumps_sorted = _dumps_sorted

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Path grammar (PlaceOpObjectHelper.java:140-148 semantics)
# ---------------------------------------------------------------------------

#: characters in a key that force {}-quoting when formatting a path
_NEEDS_QUOTE = set(".[]{}")

# change-op literals
OP_DELETE = "delete"
OP_INCREMENT = "increment"
OP_SET = "set"
OP_APPEND = "append"
OP_APPENDMANY = "appendmany"


def parse_path(path: str) -> list[Any]:
    """Parse a dotted change path into segments (str keys / int indices).

    Grammar: segments separated by ``.``; ``seg[3]`` denotes index 3 of
    the list at ``seg`` (indices may chain: ``a[1][2]``); a segment
    wrapped in ``{...}`` is taken verbatim (may contain dots/brackets).

    >>> parse_path("source.osm[0].tags.name")
    ['source', 'osm', 0, 'tags', 'name']
    >>> parse_path("tags.{addr.city}")
    ['tags', 'addr.city']
    """
    out: list[Any] = []
    i, n = 0, len(path)
    while i < n:
        if path[i] == "{":
            j = path.index("}", i)
            out.append(path[i + 1:j])
            i = j + 1
        else:
            j = i
            while j < n and path[j] not in ".[":
                j += 1
            if j > i:
                out.append(path[i:j])
            i = j
        # consume any chained [idx] groups
        while i < n and path[i] == "[":
            j = path.index("]", i)
            out.append(int(path[i + 1:j]))
            i = j + 1
        if i < n:
            if path[i] != ".":
                raise ValueError(f"malformed path {path!r} at offset {i}")
            i += 1
    return out


def format_path(parts: Iterable[Any]) -> str:
    """Inverse of :func:`parse_path`, with ``{}``-quoting of unsafe keys."""
    buf: list[str] = []
    for p in parts:
        if isinstance(p, int):
            buf.append(f"[{p}]")
        else:
            seg = f"{{{p}}}" if any(c in _NEEDS_QUOTE for c in p) else p
            buf.append(("." if buf else "") + seg)
    return "".join(buf)


# ---------------------------------------------------------------------------
# Pure-Python edit kernel
# ---------------------------------------------------------------------------

def _descend(doc: Any, parts: list[Any], create: bool) -> Any:
    """Return the container holding the last path segment, optionally
    creating intermediate dicts/lists (lists padded with None)."""
    cur = doc
    for i, p in enumerate(parts[:-1]):
        nxt_is_idx = isinstance(parts[i + 1], int)
        if isinstance(p, int):
            if not isinstance(cur, list):
                raise KeyError(f"expected list at {format_path(parts[: i + 1])}")
            while create and len(cur) <= p:
                cur.append([] if nxt_is_idx else {})
            cur = cur[p]
        else:
            if not isinstance(cur, dict):
                raise KeyError(f"expected object at {format_path(parts[: i + 1])}")
            if p not in cur or cur[p] is None:
                if not create:
                    return None
                cur[p] = [] if nxt_is_idx else {}
            cur = cur[p]
    return cur


def apply_change_op(doc: dict, path: str, op: Any) -> dict:
    """Apply one change op at ``path`` to ``doc`` in place; returns doc.

    ``op`` is ``"delete"`` | ``"increment"`` | ``{"set": v}`` |
    ``{"append": v}`` | ``{"appendmany": [v...]}`` — exactly the forms
    the reference emits (``"increment"`` appears 18× in the production
    patch corpus, always as ``"version": "increment"`` with no prior
    value recorded: a missing field increments to 1).
    """
    parts = parse_path(path)
    last = parts[-1]
    if op == OP_INCREMENT:
        holder = _descend(doc, parts, create=True)
        if isinstance(last, int):
            while len(holder) <= last:
                holder.append(None)
            cur = holder[last]
            holder[last] = (cur if isinstance(cur, int) else 0) + 1
        else:
            cur = holder.get(last)
            holder[last] = (cur if isinstance(cur, int) else 0) + 1
        return doc
    if op == OP_DELETE:
        holder = _descend(doc, parts, create=False)
        if holder is None:
            return doc
        if isinstance(last, int):
            if isinstance(holder, list) and last < len(holder):
                holder.pop(last)
        elif isinstance(holder, dict):
            holder.pop(last, None)
        return doc
    if not isinstance(op, dict) or len(op) != 1:
        raise ValueError(f"malformed change op at {path!r}: {op!r}")
    (kind, value), = op.items()
    holder = _descend(doc, parts, create=True)
    if kind == OP_SET:
        if isinstance(last, int):
            while len(holder) <= last:
                holder.append(None)
            holder[last] = value
        else:
            holder[last] = value
        return doc
    # append / appendmany target a list at `path`
    if isinstance(last, int):
        while len(holder) <= last:
            holder.append(None)
        target = holder[last]
        if target is None:
            target = holder[last] = []
    else:
        target = holder.get(last)
        if target is None:
            target = holder[last] = []
    if not isinstance(target, list):
        raise ValueError(f"append target at {path!r} is not a list")
    if kind == OP_APPEND:
        target.append(value)
    elif kind == OP_APPENDMANY:
        target.extend(value)
    else:
        raise ValueError(f"unknown change op kind {kind!r} at {path!r}")
    return doc


def apply_change_map(doc: dict, change: dict[str, Any]) -> dict:
    """Apply a whole ``change`` map.  Deletes run after sets/appends at
    the *same* batch only when iteration order says so — the reference
    replays maps in their serialized key order, which we preserve (Python
    dicts are insertion-ordered, json.loads keeps document order)."""
    for path, op in change.items():
        apply_change_op(doc, path, op)
    return doc


def current_values(doc: dict, change: dict[str, Any]) -> dict[str, Any]:
    """The ``current`` section for a change map: old value per touched
    path that exists (reference stores previous values for optimistic
    concurrency, ``PlaceOpObjectHelper.java:150-169``)."""
    out: dict[str, Any] = {}
    for path in change:
        parts = parse_path(path)
        holder = _descend(doc, parts, create=False)
        if holder is None:
            continue
        last = parts[-1]
        if isinstance(last, int):
            if isinstance(holder, list) and last < len(holder):
                out[path] = holder[last]
        elif isinstance(holder, dict) and last in holder:
            out[path] = holder[last]
    return out


def generate_diff(old: Any, new: Any, prefix: list[Any] | None = None,
                  change: dict[str, Any] | None = None,
                  current: dict[str, Any] | None = None
                  ) -> tuple[dict[str, Any], dict[str, Any]]:
    """Recursive diff old→new as (change, current) maps (E1, reference
    ``PlaceOpObjectHelper.generateDiff``: removed keys → ``"delete"``,
    new/changed values → ``{"set": v}``; equal values skipped).

    Dicts recurse per key; everything else (scalars *and* lists — the
    reference sets lists wholesale) compares by equality.
    """
    prefix = prefix or []
    change = change if change is not None else {}
    current = current if current is not None else {}
    if isinstance(old, dict) and isinstance(new, dict):
        for k in old:
            if k not in new:
                change[format_path(prefix + [k])] = OP_DELETE
                current[format_path(prefix + [k])] = old[k]
        for k, v in new.items():
            if k not in old:
                change[format_path(prefix + [k])] = {OP_SET: v}
            else:
                generate_diff(old[k], v, prefix + [k], change, current)
        return change, current
    if old != new:
        p = format_path(prefix)
        change[p] = {OP_SET: new}
        current[p] = old
    return change, current


# ---------------------------------------------------------------------------
# Distributed fold (M9) — documents ⟕ operations cogroup
# ---------------------------------------------------------------------------

ACTION_CREATE = "create"
ACTION_EDIT = "edit"
ACTION_DELETE = "delete"


def apply_operations(docs: DataFrame, ops: DataFrame,
                     id_col: str = "obj_id", doc_col: str = "doc") -> DataFrame:
    """Fold a changelog onto a snapshot of JSON documents (operator M9).

    ``docs``: (id_col, doc_col=json string) — may be empty (bootstrap).
    ``ops``:  (id_col, block_id long, op_seq long, action
    'create'|'edit'|'delete', doc json-or-null, change json-or-null).

    Returns the new snapshot (id_col, doc_col).  Fold order inside a key
    is (block_id, op_seq) — total within a document, unordered across
    documents (exactly the reference's block replay semantics; blocks
    are totally ordered, documents independent).  Ties on (block_id,
    op_seq) are broken by the remaining struct fields via sort_array, so
    the fold is deterministic regardless of shuffle order.

    Scale shape: each side shuffles once on the document key (the
    groupBy and the join share the hash partitioning, so Catalyst plans
    a single exchange per side), then the fold streams through
    ``mapInPandas`` — one Python invocation per Arrow batch, not per
    key.  Skewed hot documents are bounded by their own op count, never
    by corpus size.
    """
    import pandas as pd

    out_schema = f"{id_col} string, {doc_col} string"

    docs_k = docs.select(F.col(id_col).cast("string").alias(id_col),
                         F.col(doc_col).alias(doc_col))
    ops_agg = (
        ops.select(F.col(id_col).cast("string").alias(id_col),
                   F.struct(F.col("block_id").cast("long").alias("block_id"),
                            F.col("op_seq").cast("long").alias("op_seq"),
                            "action", "doc", "change").alias("op"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("op")).alias("ops"))
    )
    joined = docs_k.join(ops_agg, on=id_col, how="full_outer")

    def fold_batches(batches):
        for pdf in batches:
            out_ids: list[str] = []
            out_docs: list[str] = []
            for obj_id, raw, op_list in zip(pdf[id_col], pdf[doc_col],
                                            pdf["ops"]):
                doc = _loads(raw) if raw is not None else None
                if op_list is not None:
                    for op in op_list:
                        action = op["action"]
                        if action == ACTION_CREATE:
                            doc = _loads(op["doc"])
                        elif action == ACTION_DELETE:
                            doc = None
                        elif action == ACTION_EDIT:
                            if doc is not None and op["change"] is not None:
                                apply_change_map(doc, _loads(op["change"]))
                        else:
                            raise ValueError(f"unknown action {action!r}")
                if doc is not None:
                    out_ids.append(obj_id)
                    out_docs.append(_dumps_sorted(doc))
            yield pd.DataFrame({id_col: out_ids, doc_col: out_docs})

    return joined.mapInPandas(fold_batches, schema=out_schema)


def extract_diff(old: DataFrame, new: DataFrame,
                 id_col: str = "obj_id", doc_col: str = "doc") -> DataFrame:
    """CDC-extract (E1): two snapshots → changelog rows.

    Emits (id, action, doc, change, current): ``create`` rows carry the
    full new doc, ``edit`` rows the change/current maps, ``delete`` rows
    only the id.  Equal documents emit nothing.  One full-outer
    hash-join on the id, diffing inside the join projection.
    """
    import pandas as pd

    o = old.select(F.col(id_col).cast("string").alias(id_col),
                   F.col(doc_col).alias("_old"))
    n = new.select(F.col(id_col).cast("string").alias(id_col),
                   F.col(doc_col).alias("_new"))
    joined = o.join(n, on=id_col, how="full_outer")
    out_schema = (f"{id_col} string, action string, doc string, "
                  "change string, current string")

    def diff_batch(batches):
        for pdf in batches:
            rows = {id_col: [], "action": [], "doc": [], "change": [],
                    "current": []}

            def emit(oid, action, doc=None, change=None, current=None):
                rows[id_col].append(oid)
                rows["action"].append(action)
                rows["doc"].append(doc)
                rows["change"].append(change)
                rows["current"].append(current)

            for oid, old_raw, new_raw in zip(pdf[id_col], pdf["_old"],
                                             pdf["_new"]):
                if old_raw is None and new_raw is None:
                    continue
                if old_raw is None:
                    emit(oid, ACTION_CREATE, doc=new_raw)
                elif new_raw is None:
                    emit(oid, ACTION_DELETE)
                elif old_raw != new_raw:
                    change, current = generate_diff(_loads(old_raw),
                                                    _loads(new_raw))
                    if change:
                        emit(oid, ACTION_EDIT,
                             change=json.dumps(change, ensure_ascii=False),
                             current=json.dumps(current, ensure_ascii=False))
            yield pd.DataFrame(rows)

    return joined.mapInPandas(diff_batch, schema=out_schema)
