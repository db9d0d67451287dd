"""Tag-map semantics (the reference's core filter cascade, Spark-first).

The reference processes one OSM object at a time through a predicate
cascade (reference ``filter.py:158-211``): empty-tags drop, optional
has-name drop, exclude-superset drop, tag-of-interest lookup with a count
threshold. Here the same semantics are column expressions over a
``MAP<STRING,STRING>`` column, so Catalyst can reorder/push them and the
whole cascade stays inside whole-stage codegen — no Python in the hot path.

Scale notes:
* every predicate here is a narrow map expression — no shuffle;
* the TOI dimension is tiny (8 keys × ≤100 values) and is always
  broadcast, so the semi-join (O6) is a broadcast hash semi-join;
* "first matching key wins, one output row" (reference ``filter.py:199``)
  is preserved by using LEFT SEMI rather than explode+inner-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- O3: empty-tags filter (reference filter.py:165-166) -------------------

def non_empty_tags(tags: Column) -> Column:
    return F.size(F.map_keys(tags)) > 0


# --- O4: has-name filter (reference filter.py:168-169) ---------------------

def has_tag_key(tags: Column, key: str) -> Column:
    return F.map_contains_key(tags, F.lit(key))


# --- O5: exclude-list anti-filter (reference filter.py:170-173) ------------

def excluded_by_superset(tags: Column, exclude: Sequence[Sequence[str]]) -> Column:
    """True iff the tag set is a superset of ANY configured exclude tuple.

    Each exclude tuple is a list of ``"k=v"`` strings; an object is dropped
    only when it carries *all* of them (set >= set in the reference,
    ``filter.py:172``) — not any-of.
    """
    if not exclude:
        return F.lit(False)
    conds = []
    for tup in exclude:
        pair_conds = []
        for kv in tup:
            k, _, v = kv.partition("=")
            # eqNullSafe: a missing key reads as NULL and must count as
            # "tag not present" (false), not poison the conjunction
            pair_conds.append(tags.getItem(k).eqNullSafe(F.lit(v)))
        all_match = pair_conds[0]
        for c in pair_conds[1:]:
            all_match = all_match & c
        conds.append(all_match)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


# --- O6: tag-of-interest semi-join (reference filter.py:175-180) -----------

def toi_semi_join(
    df: DataFrame,
    toi: DataFrame,
    min_occurrences: int,
) -> DataFrame:
    """Keep rows where some ``(key, value)`` tag pair appears in the TOI
    dimension with a global count above the threshold.

    LEFT SEMI join against the (broadcast) thresholded dimension: an object
    matching several TOI keys still emits exactly one row (reference
    ``filter.py:199,211`` returns after the first match). The join
    condition is an ``exists`` over the map entries, so no explode and no
    row duplication; with the dimension broadcast this is a
    BroadcastNestedLoopJoin whose inner loop is the tiny dimension —
    per-row cost is |tags| × |dim|, constant at any fact-table scale.
    """
    dim = toi.filter(F.col("count") > F.lit(min_occurrences)).select("key", "value")
    cond = F.exists(
        F.map_entries(df["tags"]),
        lambda e: (e["key"] == dim["key"]) & (e["value"] == dim["value"]),
    )
    return df.join(F.broadcast(dim), cond, "left_semi")


def toi_match_expr(tags: Column, toi_map: dict[str, list[str]]) -> Column:
    """Pure-expression variant of O6 for a small collected dimension.

    ``toi_map`` is {key: [allowed values]}; the expression is true iff any
    entry of ``tags`` matches. Stays entirely inside codegen — the preferred
    form when the dimension fits comfortably in a literal (it does: ≤800
    rows in the reference's configuration).
    """
    cond = F.lit(False)
    for key, values in sorted(toi_map.items()):
        cond = cond | tags.getItem(key).isin(*values)
    return cond


# --- O8: tag projection + hstore literal (reference filter.py:92-111) ------

def trim_tag_keys(tags: Column, trim: Sequence[str]) -> Column:
    """Drop configured keys from the map (reference ``filter.py:109``)."""
    if not trim:
        return tags
    trim_arr = F.array(*[F.lit(t) for t in trim])
    return F.map_filter(tags, lambda k, v: ~F.array_contains(trim_arr, k))


def _hstore_escape(c: Column) -> Column:
    r"""Escape ``\`` and ``"`` and normalize whitespace control chars.

    Mirrors the reference's sanitizer (``filter.py:92-100``): backslash and
    double-quote get a backslash prefix; newline/CR/tab become spaces.

    r14 opt round 1: literal ``replace``/``translate`` instead of
    ``regexp_replace`` — the patterns are single literal characters (the
    former ``[\n\r\t]`` class maps each member to one space, exactly
    ``translate``'s per-character semantics), so values are identical
    (2M-row dense-special-char equality check + the hypothesis hstore
    round-trip pin). Measured FLAT in this expression's interpreted
    position inside the ``transform`` lambda (1.11 vs 1.10 s medians
    over 2M rows ×2 — Java's precompiled single-char regexes are
    competitive there); kept because it aligns both escape chains on
    the literal-operator form whose codegen'd instance measured 2.3×
    faster in ``copy_escape`` and shrinks the generated code wherever
    this chain is inlined outside a lambda.
    """
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.translate(c, "\n\r\t", "   ")
    return c


def hstore_literal(tags: Column) -> Column:
    """Serialize a map column to a PostgreSQL hstore literal
    ``"k"=>"v","k2"=>"v2"`` with entries sorted by key (the reference emits
    dict order, ``filter.py:102-111``; we sort for determinism).
    """
    entries = F.array_sort(F.map_entries(tags))
    rendered = F.transform(
        entries,
        lambda e: F.concat(
            F.lit('"'),
            _hstore_escape(e["key"]),
            F.lit('"=>"'),
            _hstore_escape(e["value"]),
            F.lit('"'),
        ),
    )
    return F.array_join(rendered, ",")


def parse_json_tags(props: Column) -> Column:
    """events.props JSON text → MAP<STRING,STRING> (≙ hstore tags)."""
    return F.from_json(props, "map<string,string>")
