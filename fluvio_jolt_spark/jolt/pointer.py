"""Dot-notation / RFC6901 pointer machinery for default & remove.

Parity notes vs the reference (fluvio-jolt/src/pointer.rs:6-63 and
serde_json's Value::pointer):

* Spec leaves are enumerated depth-first; array indices in the spec
  become stringified path tokens (spec.rs:248-276).
* The reference round-trips the token list through an RFC6901 string
  (join with '/', then serde_json splits on '/' and unescapes ~1 → /
  and ~0 → ~). We reproduce that round-trip so keys containing '/' or
  '~' behave identically.
* Array lookups during pointer resolution use serde_json's index
  parsing: plain ASCII digits, no leading '+', no leading zeros.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional

_ABSENT = object()


def spec_leaves(spec: Any) -> Iterator[tuple[list[str], Any]]:
    """Yield (path_tokens, leaf) for every scalar/null leaf of a spec
    tree, in document order (cf. SpecIter, spec.rs:248-276). The leading
    RFC6901 empty root token is omitted; tokens are raw (unescaped)."""
    def walk(node: Any, prefix: list[str]) -> Iterator[tuple[list[str], Any]]:
        if isinstance(node, dict):
            for k, v in node.items():
                yield from walk(v, prefix + [k])
        elif isinstance(node, list):
            for i, v in enumerate(node):
                yield from walk(v, prefix + [str(i)])
        else:
            yield prefix, node

    yield from walk(spec, [])


def _rfc6901_tokens(raw_tokens: list[str]) -> list[str]:
    """Emulate the reference's join('/') → split('/') → unescape round
    trip. A raw token containing '/' is split into multiple tokens; ~1
    and ~0 sequences are unescaped."""
    joined = "/".join(raw_tokens)
    if joined == "":
        return []
    return [t.replace("~1", "/").replace("~0", "~") for t in joined.split("/")]


def compile_leaf_paths(spec: Any) -> list[tuple[list[str], Any]]:
    """Precompile a default/remove spec into (normalized_tokens, leaf)
    pairs — the RFC6901 round trip happens once per spec, not per record."""
    return [(_rfc6901_tokens(raw), leaf) for raw, leaf in spec_leaves(spec)]


def _parse_array_index(token: str) -> Optional[int]:
    if token.startswith("+"):
        return None
    if len(token) > 1 and token.startswith("0"):
        return None
    if not token.isdigit() or not token.isascii():
        return None
    return int(token)


def tokens_get(doc: Any, tokens: list[str]) -> Any:
    """Resolve normalized pointer tokens; _ABSENT sentinel when missing."""
    cur = doc
    for token in tokens:
        if isinstance(cur, dict):
            if token in cur:
                cur = cur[token]
            else:
                return _ABSENT
        elif isinstance(cur, list):
            idx = _parse_array_index(token)
            if idx is None or idx >= len(cur):
                return _ABSENT
            cur = cur[idx]
        else:
            return _ABSENT
    return cur


def tokens_exists(doc: Any, tokens: list[str]) -> bool:
    return tokens_get(doc, tokens) is not _ABSENT


def tokens_insert(doc: Any, tokens: list[str], value: Any) -> None:
    """Create missing intermediate objects along the path, then merge the
    value at the leaf (cf. insert/merge, lib.rs:90-118). Traversal only
    descends through objects — a non-object intermediate silently
    no-ops, exactly as the reference's try_fold does."""
    if not tokens:
        return  # merging into the root is not reachable via default's flow
    cur = doc
    for token in tokens[:-1]:
        if not isinstance(cur, dict):
            return
        if token not in cur:
            cur[token] = {}
        cur = cur[token]
    if not isinstance(cur, dict):
        return
    leaf = tokens[-1]
    existing = cur.get(leaf)
    # merge: object ⊕ object = key-union (new wins per key), else overwrite
    if isinstance(existing, dict) and isinstance(value, dict):
        existing.update(value)
    else:
        cur[leaf] = value


def tokens_delete(doc: Any, tokens: list[str]) -> None:
    """Remove the leaf key if its parent resolves to an object
    (cf. delete, lib.rs:120-125)."""
    if not tokens:
        return
    cur = doc
    for token in tokens[:-1]:
        if isinstance(cur, dict):
            if token not in cur:
                return
            cur = cur[token]
        elif isinstance(cur, list):
            idx = _parse_array_index(token)
            if idx is None or idx >= len(cur):
                return
            cur = cur[idx]
        else:
            return
    if isinstance(cur, dict):
        cur.pop(tokens[-1], None)
