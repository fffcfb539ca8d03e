"""CSVW metadata algebra: normalize (M4) + N-way merge (M2/M3).

From-scratch Python port of the reference *semantics* (reference:
metadata.rb:850-898 merge, :901-1042 merge! per-property rules,
:1061-1096 normalize!) operating on plain JSON dicts — driver-side only,
O(metadata), never O(data). The merged document parameterizes the Spark
plan compilation (operators/triples.compile_mapping); it is data, not code.

Merge rules by property kind:
  array:resources        — keyed by url: recurse, else append
  array:transformations  — keyed by (targetFormat, scriptFormat)
  array:columns          — by index; same name → recurse; overlapping title
                           (mit 'und' wildcard) → recurse; A missing → take B;
                           else ignore B
  array:foreignKeys      — set-union (deep equality)
  notes                  — A ++ B
  natural_language       — per-language value union (A first), then drop
                           'und' values shadowed by a languaged entry
  object (tableSchema, dialect, reference, datatype) — recurse key-wise;
                           string-vs-object: A wins
  everything else        — atomic: A wins
"""

from __future__ import annotations

import copy
from typing import Any, Optional
from urllib.parse import urljoin as _urljoin

CSVW_CONTEXT = "http://www.w3.org/ns/csvw"

ARRAY_PROPS = {"resources", "columns", "transformations", "foreignKeys"}
OBJECT_PROPS = {"tableSchema", "dialect", "reference", "datatype"}
NATURAL_LANGUAGE_PROPS = {"title"}

#: W3C-final property names → the reference repo's draft-era internal
#: names. ``normalize`` canonicalizes so both spellings merge together
#: and the model sees one shape; the model ALSO reads the final names
#: directly (Column.title_values) for unnormalized direct loads.
KEY_ALIASES = {"tables": "resources", "titles": "title"}


#: Atomic properties normalized to booleans / integers
#: (reference: metadata.rb:1077-1084 normalize! atomic branch).
BOOL_ATOMIC_PROPS = {"doubleQuote", "header", "ordered", "required",
                     "skipBlankRows", "skipInitialSpace", "suppressOutput",
                     "virtual"}
INT_ATOMIC_PROPS = {"skipRows", "headerRowCount", "skipColumns",
                    "headerColumnCount"}
#: Link properties resolved against the base URL during normalization
#: (reference: metadata.rb:1064 `base.join(value)`; :link-typed keys are
#: @id, url, targetFormat, scriptFormat per the @properties tables).
NORMALIZE_LINK_PROPS = {"@id", "url", "targetFormat", "scriptFormat"}


def default_base(doc: dict) -> Optional[str]:
    """``@base`` declared in the document's ``@context``, if any."""
    ctx = doc.get("@context")
    if isinstance(ctx, list):
        for item in ctx:
            if isinstance(item, dict) and "@base" in item:
                return item["@base"]
    if isinstance(ctx, dict):
        return ctx.get("@base")
    return None


def default_language(doc: dict) -> Optional[str]:
    ctx = doc.get("@context")
    if isinstance(ctx, list):
        for item in ctx:
            if isinstance(item, dict) and "@language" in item:
                return item["@language"]
    if isinstance(ctx, dict):
        return ctx.get("@language")
    return None


def _is_common_property(key: str) -> bool:
    return (":" in key and not key.startswith("@")) or key.startswith("http")


def _normalize_jsonld(value: Any, lang: Optional[str],
                      base: Optional[str] = None) -> Any:
    """Common-property value → JSON-LD normal form
    (reference: metadata.rb:1130-1173 normalize_jsonld): strings become
    @value objects carrying the default language; node objects recurse;
    an ``@id`` is expanded documentRelative against the base (the
    reference's ``context.expand_iri(v, documentRelative: true)``), and
    an explicit blank-node @id raises, matching normalize_jsonld's
    "Invalid use of explicit BNode on @id"."""
    if isinstance(value, list):
        return [_normalize_jsonld(v, lang, base) for v in value]
    if isinstance(value, dict):
        if "@value" in value:
            return dict(value)
        out_obj: dict[str, Any] = {}
        for k, v in value.items():
            if str(k) == "@id" and isinstance(v, str):
                if v.startswith("_:"):
                    raise ValueError(
                        "Invalid use of explicit BNode on @id")
                out_obj[k] = _urljoin(base, v) if base else v
            elif str(k).startswith("@"):
                out_obj[k] = v
            else:
                out_obj[k] = _normalize_jsonld(v, lang, base)
        return out_obj
    if isinstance(value, str):
        out: dict[str, Any] = {"@value": value}
        if lang:
            out["@language"] = lang
        return out
    return value


def normalize_datatype_obj(value: Any) -> Any:
    if isinstance(value, str):
        return {"base": value}
    return value


def _normalize_title(value: Any, lang: Optional[str]) -> dict:
    key = lang or "und"
    if isinstance(value, str):
        return {key: [value]}
    if isinstance(value, list):
        return {key: [v for v in value if isinstance(v, str)]}
    if isinstance(value, dict):
        return {k: (v if isinstance(v, list) else [v]) for k, v in value.items()}
    return {}


def normalize(doc: dict, lang: Optional[str] = None,
              base: Optional[str] = None) -> dict:
    """→ normal form (recursive, non-destructive). ``lang`` is the inherited
    default language (from @context at the root); ``base`` the URL link
    properties resolve against (an ``@base`` in the document's @context
    overrides it — reference metadata.rb:1064 resolves every :link value
    with ``base.join``, and normalize! collapses @context to the bare
    csvw namespace)."""
    lang = default_language(doc) or lang
    base = default_base(doc) or base
    out: dict[str, Any] = {}
    for key, value in doc.items():
        key = KEY_ALIASES.get(key, key)
        if key == "@context":
            out[key] = CSVW_CONTEXT
        elif key in NORMALIZE_LINK_PROPS and base and isinstance(value, str):
            out[key] = _urljoin(base, value)
        elif key in BOOL_ATOMIC_PROPS and not isinstance(value, bool):
            out[key] = str(value).lower() in ("true", "1")
        elif key in INT_ATOMIC_PROPS and not isinstance(value, int):
            try:
                out[key] = int(value)
            except (TypeError, ValueError):
                out[key] = copy.deepcopy(value)  # validator flags it
        elif key in NATURAL_LANGUAGE_PROPS:
            out[key] = _normalize_title(value, lang)
        elif key == "datatype":
            out[key] = normalize_datatype_obj(value)
        elif key == "notes":
            items = value if isinstance(value, list) else [value]
            out[key] = [_normalize_jsonld(v, lang, base) for v in items]
        elif key == "foreignKeys":
            # FK entries are column *references* (strings/arrays), not column
            # descriptions — pass through untouched
            out[key] = copy.deepcopy(value if isinstance(value, list) else [value])
        elif key in ARRAY_PROPS:
            items = value if isinstance(value, list) else [value]
            out[key] = [normalize(v, lang, base) if isinstance(v, dict) else v
                        for v in items]
        elif key in OBJECT_PROPS and isinstance(value, dict):
            out[key] = normalize(value, lang, base)
        elif _is_common_property(key):
            out[key] = _normalize_jsonld(value, lang, base)
        else:
            out[key] = copy.deepcopy(value)
    return out


def _titles_overlap(a: dict, b: dict) -> bool:
    """'und' matches a value in any language
    (reference: metadata.rb:968-974)."""
    a_t, b_t = a.get("title") or {}, b.get("title") or {}
    if not a_t or not b_t:
        return False
    for lng, values in a_t.items():
        if set(b_t.get(lng, [])) & set(values):
            return True
    b_all = {v for vs in b_t.values() for v in vs}
    if set(a_t.get("und", [])) & b_all:
        return True
    a_all = {v for vs in a_t.values() for v in vs}
    if set(b_t.get("und", [])) & a_all:
        return True
    return False


def merge_into(a: dict, b: dict) -> dict:
    """Merge normalized B into normalized A (in place; returns A).
    Reference: metadata.rb:901-1042."""
    for key, value in b.items():
        if key == "@context":
            continue
        if key == "notes":
            a[key] = (a.get(key) or []) + value
        elif key == "resources":
            mine = a.setdefault(key, [])
            for t in value:
                match = next((e for e in mine if e.get("url") == t.get("url")), None)
                if match is not None:
                    merge_into(match, t)
                else:
                    mine.append(copy.deepcopy(t))
        elif key == "transformations":
            mine = a.setdefault(key, [])
            for t in value:
                match = next((e for e in mine
                              if e.get("targetFormat") == t.get("targetFormat")
                              and e.get("scriptFormat") == t.get("scriptFormat")), None)
                if match is not None:
                    merge_into(match, t)
                else:
                    mine.append(copy.deepcopy(t))
        elif key == "columns":
            mine = a.setdefault(key, [])
            for idx, t in enumerate(value):
                ta = mine[idx] if idx < len(mine) else None
                if ta is not None and ta.get("name") and ta.get("name") == t.get("name"):
                    merge_into(ta, t)
                elif ta is not None and _titles_overlap(ta, t):
                    merge_into(ta, t)
                elif ta is None:
                    mine.append(copy.deepcopy(t))
                # else: ignored (differing column at same index)
        elif key == "foreignKeys":
            mine = a.setdefault(key, [])
            for fk in value:
                if fk not in mine:
                    mine.append(copy.deepcopy(fk))
        elif key in NATURAL_LANGUAGE_PROPS:
            mine = a.setdefault(key, {})
            for lng, vals in value.items():
                cur = mine.get(lng, [])
                mine[lng] = cur + [v for v in vals if v not in cur]
            if "und" in mine:
                mine["und"] = [v for v in mine["und"]
                               if not any(lng != "und" and v in vals
                                          for lng, vals in mine.items())]
                if not mine["und"]:
                    del mine["und"]
        elif key in OBJECT_PROPS:
            cur = a.get(key)
            if isinstance(cur, str) or isinstance(value, str):
                a.setdefault(key, value)
            elif isinstance(cur, dict) and isinstance(value, dict):
                merge_into(cur, value)
            elif cur is None:
                a[key] = copy.deepcopy(value)
        else:
            # atomic / link / common property: A wins
            a.setdefault(key, copy.deepcopy(value))
    return a


def _as_table_group(doc: dict) -> dict:
    """Table → TableGroup promotion (reference: metadata.rb:852-868)."""
    t = dict(doc)
    typ = t.get("@type")
    if typ == "TableGroup" or "resources" in t:
        return t
    ctx = t.pop("@context", None)
    out: dict[str, Any] = {"@type": "TableGroup", "resources": [t]}
    if ctx is not None:
        out["@context"] = ctx
    return out


MERGEABLE_TYPES = {"TableGroup", "Table", None}


def merge_metadata(*docs: dict) -> dict:
    """N-way merge: normalize each, promote Tables to TableGroups, fold
    left-to-right (earlier documents win), pin the @context."""
    if not docs:
        raise ValueError("merge_metadata needs at least one document")
    for d in docs:
        if d.get("@type") not in MERGEABLE_TYPES:
            raise TypeError(f"cannot merge metadata of type {d.get('@type')}")
    parts = [_as_table_group(normalize(d)) for d in docs]
    result = parts[0]
    for nxt in parts[1:]:
        merge_into(result, nxt)
    result["@context"] = CSVW_CONTEXT
    return result
