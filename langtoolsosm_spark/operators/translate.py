"""Translation-fill operators — the reference's eight CLI pipelines as
batch DataFrame transforms (SURVEY.md §2.2-§2.8, §3).

Each operator reproduces the *intended* semantics of one reference command
(file:line cited per function), re-expressed as declarative Spark plans:
filters become map-predicate column expressions, dict-lookup loops become
broadcast joins, the interactive candidate selection becomes a
deterministic rank-1 pick, and per-object API writes become CDC-diffed
edit sets merged via snapshot commits.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.textfns import bracket_strip_str


# ---------------------------------------------------------------------------
# predicate vocabulary (reference filter strings, SURVEY.md §2.2)
# ---------------------------------------------------------------------------

def has_key(col: str, key) -> F.Column:
    """``nwr['k']`` — tag key exists (src/fill_empty_name.py:26)."""
    k = key if isinstance(key, F.Column) else F.lit(key)
    return F.map_contains_key(F.col(col), k)


def not_has_key(col: str, key) -> F.Column:
    """``[!'k']`` — key absent."""
    return ~has_key(col, key)


def key_regex_exists(col: str, key_re: str) -> F.Column:
    """``[~'name:[a-z]+'~'.']`` — some key matches regex with non-empty
    value (src/fill_empty_name_lang.py:26)."""
    return F.exists(
        F.map_keys(F.col(col)),
        lambda k: k.rlike(key_re) & (F.length(F.element_at(F.col(col), k)) > 0),
    )


def value_regex(col: str, key: str, find: str) -> F.Column:
    """``['name'~'find']`` (src/regex_name_lang.py:29)."""
    return F.element_at(F.col(col), key).rlike(find)


# ---------------------------------------------------------------------------
# fill_empty_name / fill_empty_name_lang / regex_name_lang
# ---------------------------------------------------------------------------

def fill_empty_name(features: DataFrame, lang: str) -> DataFrame:
    """``name`` := ``name:{lang}`` where name absent
    (src/fill_empty_name.py:26,63-64). Returns edit rows
    (osm_type, id, key, value)."""
    src = f"name:{lang}"
    return (
        features.filter(has_key("tags", src) & not_has_key("tags", "name"))
        .select(
            "osm_type",
            "id",
            F.lit("name").alias("key"),
            F.element_at("tags", F.lit(src)).alias("value"),
        )
    )


def fill_empty_name_lang(features: DataFrame, lang: str) -> DataFrame:
    """``name:{lang}`` := ``name`` where the lang key is absent but some
    name:* exists semantics inverted per src/fill_empty_name_lang.py:26,
    60-61: filter has ``name`` and not ``name:{lang}``."""
    dst = f"name:{lang}"
    return (
        features.filter(has_key("tags", "name") & not_has_key("tags", dst))
        .select(
            "osm_type",
            "id",
            F.lit(dst).alias("key"),
            F.element_at("tags", F.lit("name")).alias("value"),
        )
    )


def regex_name_lang(features: DataFrame, find: str, replace: str, lang: str) -> DataFrame:
    """``name:{lang}`` := re.sub(find, replace, name) for names matching
    ``find`` (src/regex_name_lang.py:29,55,66). Python-dialect backrefs
    (``\\1``) — executed in a vectorized pandas UDF for exact semantics."""
    pat = re.compile(find)

    @F.pandas_udf(T.StringType())
    def sub_udf(s: pd.Series) -> pd.Series:
        # per-batch C-loop substitution (re.sub semantics incl. \1 backrefs)
        return s.str.replace(pat, replace, regex=True)

    dst = f"name:{lang}"
    return (
        features.filter(
            has_key("tags", "name")
            & not_has_key("tags", dst)
            & value_regex("tags", "name", find)
        )
        .select(
            "osm_type",
            "id",
            F.lit(dst).alias("key"),
            sub_udf(F.element_at("tags", F.lit("name"))).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# translate_with_wikidata: candidate derivation + deterministic rank-1 pick
# ---------------------------------------------------------------------------

def derive_candidates(wikipedia_title, label, aliases) -> list[str]:
    """Exact reference candidate assembly (lib/wikimedia.py:20-55 +
    src/translate_with_wikidata.py:167-194, name_as_option=False):

    extras pass 1: bracket-strip over [wikipedia, label, aliases...] (ordered
    dedup); pass 2: .title() over the same list + pass-1 extras; option
    order = wikipedia, extras..., label, aliases... (rank 0 = default).
    Pure Python — runs inside a pandas UDF over the (small) dimension.
    """
    aliases = list(aliases) if aliases is not None else []
    if not wikipedia_title and not label and not aliases:
        return []

    def listed(extras):
        base = []
        if wikipedia_title:
            base.append(wikipedia_title)
        if label:
            base.append(label)
        base.extend(aliases)
        base.extend(extras)
        return list(dict.fromkeys(base))

    extras: list[str] = []
    seen: list[str] = []
    pat = re.compile(r"\s*\(.+\)\s*")
    for i in listed([]):
        if pat.search(i):
            v = bracket_strip_str(i)
            if v not in seen:
                seen.append(v)
                extras.append(v)
    for i in listed(extras):
        t = i.title()
        if t != i and t not in seen:
            seen.append(t)
            extras.append(t)

    options: list[str] = []
    if wikipedia_title:
        options.append(wikipedia_title)
    options.extend(extras)
    if label:
        options.append(label)
    options.extend(aliases)
    return options


def candidates_dim(wikidata: DataFrame, lang: str | None = None) -> DataFrame:
    """wikidata dim -> (wikidata, candidates array, best) via applyInPandas
    batches (dimension-sized work, still vectorized at the Arrow layer)."""

    def per_batch(batches):
        for pdf in batches:
            cands = [
                derive_candidates(w, l, a)
                for w, l, a in zip(pdf["wikipedia_title"], pdf["label"], pdf["aliases"])
            ]
            yield pd.DataFrame(
                {
                    "wikidata": pdf["wikidata"],
                    "candidates": cands,
                    "best": [c[0] if c else None for c in cands],
                }
            )

    return wikidata.select("wikidata", "wikipedia_title", "label", "aliases").mapInPandas(
        per_batch, schema="wikidata string, candidates array<string>, best string"
    )


def translate_with_wikidata(features: DataFrame, wikidata: DataFrame, lang: str) -> DataFrame:
    """Batch form of the flagship pipeline (src/translate_with_wikidata.py):
    filter ``['name']['wikidata'][!'name:{lang}']`` (:78), broadcast-join
    the deduped translation dim (:102-103), rank-1 default accept
    (:200,203 ``or '0'``). Remember-answers (:154-156) is free in batch:
    the rank-1 pick is a pure function of the Q-id, so every feature with
    the same id gets the same answer. Returns edit rows + the group audit
    (objects per Q-id, §1.1 abstraction 4)."""
    dst = f"name:{lang}"
    probe = features.filter(
        has_key("tags", "name") & has_key("tags", "wikidata") & not_has_key("tags", dst)
    ).withColumn("wikidata", F.element_at("tags", F.lit("wikidata")))
    dim = candidates_dim(wikidata, lang).filter(F.col("best").isNotNull())
    return (
        probe.join(F.broadcast(dim), "wikidata", "inner")
        .select(
            "osm_type",
            "id",
            "wikidata",
            F.lit(dst).alias("key"),
            F.col("best").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# wikipedia <-> wikidata lookups
# ---------------------------------------------------------------------------

def fill_wikidata_from_wikipedia(features: DataFrame, wikidata: DataFrame) -> DataFrame:
    """``wikidata`` := lookup by wikipedia ``lang:title``
    (src/fill_wikidata_from_wikipedia.py:28,49,89-91; parse at
    lib/wikimedia.py:74-82; redirect-resolution via ``canonical``,
    lib/wikimedia.py:100). Intended semantics (the reference's :91 writes
    the raw lookup dict — a latent bug noted in SURVEY.md §5): set the
    canonical Q-id string."""
    probe = (
        features.filter(has_key("tags", "wikipedia") & not_has_key("tags", "wikidata"))
        .withColumn("wikipedia", F.element_at("tags", F.lit("wikipedia")))
        .withColumn("wiki_lang", F.regexp_extract("wikipedia", r"^([a-z]+):.+", 1))
        .withColumn("wiki_title", F.regexp_extract("wikipedia", r"^[a-z]+:(.+)", 1))
        .filter(F.col("wiki_lang") != "")
    )
    # dim keyed by (lang, title) from sitelinks: explode map, strip 'wiki'
    dim = (
        wikidata.select("canonical", F.explode("sitelinks").alias("site", "title"))
        .filter(F.col("site").endswith("wiki") & (F.col("site") != "commonswiki"))
        .withColumn("wiki_lang", F.regexp_replace("site", "wiki$", ""))
        .select("wiki_lang", F.col("title").alias("wiki_title"), "canonical")
        .dropDuplicates(["wiki_lang", "wiki_title"])
    )
    return probe.join(F.broadcast(dim), ["wiki_lang", "wiki_title"], "inner").select(
        "osm_type", "id", F.lit("wikidata").alias("key"), F.col("canonical").alias("value")
    )


def fill_wikipedia_from_wikidata(features: DataFrame, wikidata: DataFrame, lang: str) -> DataFrame:
    """``wikipedia`` := ``{lang}:{sitelink}`` for features with wikidata,
    no wikipedia, excluding instance-of-human
    (src/fill_wikipedia_from_wikidata.py:29,55-59,95-104; sitelink map at
    lib/wikimedia.py:118-140 excluding commonswiki). Emits a corrected
    ``wikidata`` edit when the canonical id differs (:97-99)."""
    probe = features.filter(
        has_key("tags", "wikidata") & not_has_key("tags", "wikipedia")
    ).withColumn("wikidata", F.element_at("tags", F.lit("wikidata")))
    humans = wikidata.filter(F.array_contains("p31_labels", "human")).select("wikidata")
    probe = probe.join(F.broadcast(humans), "wikidata", "left_anti")
    dim = (
        wikidata.withColumn("title", F.element_at("sitelinks", F.lit(f"{lang}wiki")))
        .filter(F.col("title").isNotNull())
        .select("wikidata", "canonical", "title")
    )
    joined = probe.join(F.broadcast(dim), "wikidata", "inner")
    wiki_edits = joined.select(
        "osm_type",
        "id",
        F.lit("wikipedia").alias("key"),
        F.concat(F.lit(f"{lang}:"), F.col("title")).alias("value"),
    )
    redirect_edits = joined.filter(F.col("canonical") != F.col("wikidata")).select(
        "osm_type", "id", F.lit("wikidata").alias("key"), F.col("canonical").alias("value")
    )
    return wiki_edits.unionByName(redirect_edits)


def map_to_sorted_string(col) -> F.Column:
    """Canonical 'k=v|k=v' rendering of a map column, entries sorted by
    key — the generic comparator that lets map-valued operator outputs be
    hash-checked against a SQL oracle (maps themselves have no stable
    order in either engine)."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(c)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        "|",
    )


def p31_type_join(
    entities: DataFrame,
    labels: DataFrame,
    id_col: str = "wikidata",
    arr_col: str = "p31_ids",
    key_col: str = "type_id",
    label_col: str = "label",
) -> DataFrame:
    """Two-stage instance-of (P31) type resolution
    (lib/wikimedia.py:143-177): entity -> P31-id array, flatten to the
    distinct id set, resolve ids against a labels dimension, recombine
    per entity.

    In Spark the flatten+distinct middle stage is implicit: posexplode
    keeps array positions, the (small) labels dim broadcasts, and
    collect_list + sort_array recombines in array order. Entities whose
    P31 ids all lack labels drop out (the reference only records labeled
    entities). ``last_label`` mirrors the reference's loop quirk at
    :172-176 where each labeled P31 OVERWRITES the entity's type list, so
    the surviving value is the last labeled id's label.
    """
    ex = entities.select(
        F.col(id_col), F.posexplode(F.col(arr_col)).alias("__pos", key_col)
    )
    j = ex.join(F.broadcast(labels), key_col, "inner")
    ordered = j.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col(label_col)))).alias(
            "__o"
        )
    )
    return ordered.select(
        F.col(id_col),
        F.array_join(
            F.transform(F.col("__o"), lambda s: s[label_col]), ","
        ).alias("p31_labels"),
        F.element_at(F.col("__o"), -1)[label_col].alias("last_label"),
    )


# ---------------------------------------------------------------------------
# CDC merge (write-back semantics)
# ---------------------------------------------------------------------------

def edits_to_tag_maps(edits: DataFrame) -> DataFrame:
    """Edit rows (osm_type,id,key,value) -> (osm_type,id,new_tags map)."""
    return edits.groupBy("osm_type", "id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("key", "value")))
        ).alias("new_tags")
    )


def cdc_merge(features: DataFrame, edits: DataFrame) -> DataFrame:
    """MERGE-style tag update with skip-if-equal CDC semantics
    (lib/osm_utils.py:102-152; src/update_osm_objects_from_report.py:
    117-131): only keys whose value actually changes are written; the
    ``version`` column increments only for really-changed rows (optimistic
    concurrency analogue). Returns the full updated feature table +
    ``changed`` audit column."""
    upd = edits_to_tag_maps(edits)
    merged = features.join(upd, ["osm_type", "id"], "left")
    # diff := entries of new_tags whose value differs from tags (or is new)
    diff = F.map_filter(
        F.col("new_tags"),
        lambda k, v: ~F.map_contains_key(F.col("tags"), k)
        | (F.element_at(F.col("tags"), k) != v),
    )
    has_change = F.col("new_tags").isNotNull() & (F.size(F.map_keys(diff)) > 0)
    return (
        merged.withColumn("__diff", F.when(has_change, diff))
        .withColumn(
            "tags",
            F.when(F.col("__diff").isNotNull(), F.map_concat(
                F.map_filter(F.col("tags"), lambda k, v: ~F.map_contains_key(F.col("__diff"), k)),
                F.col("__diff"),
            )).otherwise(F.col("tags")),
        )
        .withColumn(
            "version",
            F.when(F.col("__diff").isNotNull(), F.col("version") + 1).otherwise(F.col("version")),
        )
        .withColumn("changed", F.col("__diff").isNotNull())
        .drop("new_tags", "__diff")
    )


def conflict_keys(features: DataFrame, edits: DataFrame) -> DataFrame:
    """Overwrite-conflict detection (lib/osm_utils.py:109-111): keys present
    in both old and new with different values, sorted for display."""
    upd = edits_to_tag_maps(edits)
    j = features.join(upd, ["osm_type", "id"], "inner")
    conflicts = F.map_filter(
        F.col("new_tags"),
        lambda k, v: F.map_contains_key(F.col("tags"), k)
        & (F.element_at(F.col("tags"), k) != v),
    )
    return (
        j.withColumn("conflict_keys", F.array_sort(F.map_keys(conflicts)))
        .filter(F.size("conflict_keys") > 0)
        .select("osm_type", "id", "conflict_keys")
    )


def region_lang_audit(
    points: DataFrame,
    polygons: DataFrame,
    region_langs: DataFrame,
    res: int = 8,
    text_col: str = "text",
    id_col: str = "point_id",
) -> DataFrame:
    """Caption-language vs region-rule consistency audit — the QA table
    behind the reference's per-region name:LANG fill decisions
    (lib/osm_utils.py:120-121 asks a human per edit; at 10^12 rows the
    check must be a batch join): which captions disagree with the
    language rule of the region that owns their footprint?

    Composition of two oracle-gated parts: unique-owner PIP join assigns
    each point its governing polygon; marker-based ``lang_id`` guesses
    the caption language; a broadcast (polygon_id -> expected_lang) dim
    closes the loop. Emits (id, polygon_id, expected_lang, guess, agree)
    for every point inside some polygon — ``agree = 0`` rows are the
    review queue. All column expressions + one hierarchical-cover PIP;
    the lang dim is polygon-count sized, always broadcast.
    """
    from .pip_join import pip_join
    from .textstats import lang_id

    owned = pip_join(
        points.select(id_col, "lat", "lon"), polygons, res=res,
        unique=True, id_col=id_col,
    ).select(id_col, "polygon_id")
    guesses = lang_id(points, text_col=text_col, id_col=id_col).select(
        id_col, "guess"
    )
    return (
        owned.join(F.broadcast(region_langs), "polygon_id")
        .join(guesses, id_col)
        .select(
            id_col,
            "polygon_id",
            "expected_lang",
            "guess",
            (F.col("guess") == F.col("expected_lang")).cast("int").alias("agree"),
        )
    )
