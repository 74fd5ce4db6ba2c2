"""OSM tag-map column functions (reference P5–P7).

Inputs are ``map<string,string>`` tag columns.  Everything is Catalyst
expressions over the map — no Python in the per-feature hot path, so these
project at scan speed over arbitrarily large OSM extracts.

Reference parity:
- lifecycle status resolution  -> src/transforms/Status.ts:9-58
- localized name extraction    -> src/transforms/OSMTransforms.ts:37-65,111-131
- ref priority / first value / tri-state bool / number coercion
                               -> src/transforms/OSMTransforms.ts:3-24,67-109
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lifecycle states, in the order the reference scans them
# (Status.ts:62-68: disused, abandoned, proposed, planned, construction).
LIFECYCLE_STATES = ("disused", "abandoned", "proposed", "planned", "construction")
# Lifecycle values that the reference maps to "no feature" (unsupported).
UNSUPPORTED_STATES = ("demolished", "removed", "razed")


def tag(tags: Column, key: str) -> Column:
    """Null-safe map lookup (element_at returns null on missing key even
    under ANSI mode, unlike map[key] indexing)."""
    return F.element_at(tags, key)


def osm_boolean(tags: Column, key: str) -> Column:
    """'yes'/'no'/other → true/false/null tri-state (OSMTransforms.ts:15-24)."""
    v = tag(tags, key)
    return (F.when(v == "yes", F.lit(True))
             .when(v == "no", F.lit(False))
             .otherwise(F.lit(None).cast("boolean")))


def osm_number(tags: Column, key: str) -> Column:
    """Lenient numeric coercion: null when not parseable (ANSI-safe)."""
    v = tag(tags, key)
    return F.when(v.rlike(r"^-?[0-9]+(\.[0-9]+)?$"), v.cast("double"))


def osm_first_value(tags: Column, key: str) -> Column:
    """';'-separated lists → first entry, trimmed (OSMTransforms.ts:67-81)."""
    v = tag(tags, key)
    return F.when(v.isNotNull(), F.trim(F.split(v, ";")[0]))


def osm_ref(tags: Column) -> Column:
    """Ref priority piste:loc_ref > piste:ref > loc_ref > ref
    (OSMTransforms.ts:103-109)."""
    return F.coalesce(*[tag(tags, k) for k in
                        ("piste:loc_ref", "piste:ref", "loc_ref", "ref")])


def _name_values(tags: Column, root: str) -> Column:
    """Values of ``root`` and ``root:*`` keys, in sorted-key order
    (``root`` itself sorts before any ``root:x``)."""
    keys = F.array_sort(F.filter(
        F.map_keys(tags),
        lambda k: (k == root) | k.startswith(root + ":")))
    return F.transform(keys, lambda k: F.element_at(tags, k))


def osm_name(tags: Column, root: str, fallback_root: str | None = None,
             ref: Column | None = None) -> Column:
    """Reference ``getOSMName`` (OSMTransforms.ts:37-66,111-131): collect
    ``root``/``root:*`` values sorted by key (falling back to
    ``fallback_root`` ONLY when the primary yields no keys), dedupe
    preserving order, join with ", ", then strip a leading "{ref} - "-style
    prefix when ``ref`` is given."""
    primary = _name_values(tags, root)
    vals = primary
    if fallback_root is not None:
        vals = F.when(F.size(primary) > 0, primary).otherwise(
            _name_values(tags, fallback_root))
    joined = F.concat_ws(", ", F.array_distinct(vals))
    name = F.when(joined != "", joined)
    if ref is not None:
        # "11 - Peak", "11-Peak", "11- Peak", "11 -Peak", "11 Peak" → "Peak"
        pattern = F.concat(F.lit("^"), regexp_quote(ref),
                           F.lit(r"(\s*-?\s+|-\s*)"))
        name = F.when(
            ref.isNotNull() & name.isNotNull(),
            F.regexp_replace(name, pattern, "")).otherwise(name)
    return name


def regexp_quote(col: Column) -> Column:
    """Escape regex metacharacters in a column value."""
    return F.regexp_replace(col, r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\$1")


def status_and_value(tags: Column, key: str) -> tuple[Column, Column]:
    """Reference ``getStatusAndValue`` (Status.ts:9-58): resolve the
    lifecycle status of ``key`` and the effective value.

    Exact reference branch order:
      0. unsupported: ``key``'s own value ∈ {demolished, removed, razed}
         or any ``<unsupported>=yes`` tag          → (null, null)
      1. plain key PRESENT with a lifecycle value
         (``aerialway=proposed`` + ``proposed=v``) → (proposed, v|null)
         — the "value tagging" scheme; the prefixed form is NOT consulted,
         so mixing ``aerialway=proposed`` with ``proposed:aerialway=v``
         yields value null (and the feature drops downstream)
      2. plain key PRESENT otherwise: status from the first
         ``<state>=yes`` flag (else operating), value = plain
      3. plain key ABSENT: first prefixed form ``state:key=v``
                                                 → (state, v)
      4. neither: status from ``<state>=yes`` flags (else operating),
         value null.
    """
    plain = tag(tags, key)

    # The scans below are higher-order-function loops over literal state
    # arrays, NOT unrolled when-chains: the unrolled form expands to
    # hundreds of expression nodes per call site, and with two call sites
    # inlined into both a Filter and a Project (format_lifts) the fused
    # whole-stage method overflowed janino's 64 KB limit — silently
    # demoting the formatter scan to interpreted mode.  A lambda over an
    # array codegens as one loop.  Scan order = array order, and
    # get(filter(...), 0) = the reference's first match (null if none).
    states = F.array(*[F.lit(s) for s in LIFECYCLE_STATES])

    # isUnsupportedStatus (Status.ts:50-58)
    unsupported = (
        F.coalesce(plain.isin(*UNSUPPORTED_STATES), F.lit(False))
        | F.exists(F.array(*[F.lit(s) for s in UNSUPPORTED_STATES]),
                   lambda s: F.element_at(tags, s) == "yes"))

    # first <state>=yes flag, reference scan order.  F.get is 0-based and
    # null-safe on empty arrays — element_at(..., 1) throws
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4 ANSI mode whenever no
    # state flag matches, which is the normal case for operating features.
    flag = F.get(
        F.filter(states, lambda s: F.element_at(tags, s) == "yes"), 0)
    flag_status = F.coalesce(flag, F.lit("operating"))

    # prefixed forms — consulted ONLY when the plain key is absent
    pstat = F.get(
        F.filter(states, lambda s: F.element_at(
            tags, F.concat(s, F.lit(f":{key}"))).isNotNull()), 0)
    pval = F.when(pstat.isNotNull(), F.element_at(
        tags, F.concat(pstat, F.lit(f":{key}"))))

    plain_is_state = plain.isin(*LIFECYCLE_STATES)
    # value-tagging lookup tags[<state>] (dynamic key; null-safe element_at)
    value_tagged = F.element_at(tags, F.coalesce(plain, F.lit("")))

    status = (F.when(unsupported, F.lit(None).cast("string"))
               .when(plain.isNotNull() & plain_is_state, plain)
               .when(plain.isNotNull(), flag_status)
               .when(pstat.isNotNull(), pstat)
               .otherwise(flag_status))
    value = (F.when(unsupported, F.lit(None).cast("string"))
              .when(plain.isNotNull() & plain_is_state, value_tagged)
              .when(plain.isNotNull(), plain)
              .when(pstat.isNotNull(), pval)
              .otherwise(F.lit(None).cast("string")))
    return status, value
