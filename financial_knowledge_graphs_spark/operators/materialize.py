"""Graph materialization: canonical mapping, vertices/triples, merge upsert.

Replaces the reference Neo4j sink (per-entity MERGE + per-attribute SET loops
over bolt — reference src/db/neo4j_handler.py:218-290) with set-oriented
DataFrame builds plus a PARTITION-SCOPED idempotent upsert into hash-bucketed
parquet tables: immutable per-bucket version dirs, a TABLE-ATOMIC snapshot
commit (metadata.json + version-hint swap, Iceberg's own commit model),
WHEN MATCHED DELETE tombstones, time travel + retention GC, bucket-pruned
point lookups, and online re-bucketing — the full Iceberg ``MERGE INTO``
semantics emulated on plain parquet (no table-format jars exist in this
container; the write path is isolated in ``merge_upsert`` so a real Iceberg
catalog swap is a one-function change).

Semantics preserved from the reference:
- entity ids namespaced per doc before linking ({file}_{id},
  reference src/db/neo4j_handler.py:317) → here (doc_id, local_id);
- relationship endpoints remapped through the entity mapping; rows with an
  unmapped endpoint are dropped (reference :346-350) — reproduced by inner
  joins, but the drop COUNT is surfaced to the lineage table, never silent;
- edge label upper-cased at storage (reference :264) → ``pred_label``.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .components import connected_components, union_find
from .linking import embedding_similarity_edges, name_keys, similarity_edges
from .similarity import check_int


def canonical_mapping(mentions: DataFrame, max_block: int = 1000,
                      embedding_link: bool = False,
                      embedding_threshold: float = 0.75,
                      driver_threshold: int = 50_000) -> DataFrame:
    """(type, name) → canonical component + canonical entity_id, over every
    surface of ``mentions``, plus each surface's ``n_mentions``.

    A full canonicalization is the incremental one over an empty mapping (a
    first load is the delta from an empty state): every surface is new,
    nothing is bridged, and ``canonical_mapping_incremental`` returns a row
    for every surface. So both take the same adaptive plan — the driver core
    up to ``driver_threshold`` surfaces and DRIVER_PAIR_BUDGET in-block
    pairs, else the distributed blocking → verify → components chain — and
    return the same rows either way (``tests/test_canonical_mapping_driver.py``).

    entity_id is content-addressed (sha2 of the component's min norm), so
    re-runs over overlapping corpora assign stable ids — required for
    idempotent MERGE semantics. ``embedding_link=True`` adds char-n-gram
    cosine edges on top of the reference's containment+Jaccard predicate
    (typos and run-together variants the token-set test misses); off by
    default, since the reference-parity P/R gate is defined on the
    reference predicate alone.
    """
    keys = name_keys(mentions)
    mapped = canonical_mapping_incremental(
        empty_mapping(mentions.sparkSession), keys, max_block=max_block,
        embedding_link=embedding_link, embedding_threshold=embedding_threshold,
        driver_threshold=driver_threshold,
    )
    return mapped.join(keys.select("key", "n_mentions"), "key")


def _assign_entity_ids(mapped: DataFrame) -> DataFrame:
    """entity_id is content-addressed on the component's MIN NORMALIZED name
    (not the min raw key): every legal-suffix/casing variant of a company
    shares one norm, so the id is stable when later batches add new raw
    surfaces to the component — required for incremental MERGE to update
    rather than duplicate. Components whose min-norm is empty (all-suffix
    names) fall back to the min raw key. Two same-type components sharing
    a norm collapse to one id — exactly the reference's normalized-equality
    merge (reference src/db/neo4j_handler.py:84-99).

    The per-component minima are window aggregates, not a groupBy joined
    back: ``comp`` comes from the connected-components label UDF, and a
    self-join would evaluate that UDF once per join side. ``comp`` leads
    the output columns, as the join key did."""
    by_comp = Window.partitionBy("comp")
    mapped = mapped.select(
        "comp", *[c for c in mapped.columns if c != "comp"],
        F.min(F.when(F.col("norm") != "", F.col("norm"))).over(by_comp).alias("comp_norm"),
        F.min("key").over(by_comp).alias("comp_key"),
    )
    return mapped.withColumn(
        "entity_id",
        F.concat(
            F.lit("ent_"),
            F.sha2(
                F.concat_ws("|", F.col("type"), F.coalesce("comp_norm", "comp_key")),
                256,
            ).substr(1, 16),
        ),
    ).drop("comp_norm", "comp_key")


_MAPPING_SCHEMA = "key string, type string, name string, norm string, comp string, entity_id string"


def empty_mapping(spark: SparkSession) -> DataFrame:
    """The mapping before any surface: what a full relink links against."""
    return local_frame(spark, [], _MAPPING_SCHEMA)


# The driver core verifies in-block candidate pairs in Python, about 0.3 µs
# a pair (2.59M pairs of a 36k-surface alias ledger in 0.79 s, 4 cores).
# Against the distributed plan on the same host, the driver path wins at
# 2.6M pairs (that ledger: 1.58 vs 2.36 s) and at 3.1M pairs in one block
# (1.27 vs 1.38 s), and loses at 6.1M (2.21 vs 1.92 s). Past this many
# pairs the core returns None and the caller runs the distributed plan.
DRIVER_PAIR_BUDGET = 3_000_000


def _driver_canonicalize(spark: SparkSession, cand_pdf, max_block: int,
                         prior_map: DataFrame | None = None,
                         member_limit: int = 0) -> DataFrame | None:
    """Driver twin of the distributed canonicalization (token edges only):
    the new surfaces plus their bridged prior surfaces. On a full relink
    every surface is new and ``prior_map`` is empty, so it is never read.

    ``cand_pdf`` is a pandas frame of ``key, type, name, norm, tokens,
    is_new, comp`` (``comp``: the prior component of a non-new row). The
    return is the mapping rows (``_MAPPING_SCHEMA``) whose (comp,
    entity_id) moved — every row on a full relink — or ``None`` when the
    in-block pairs to verify exceed DRIVER_PAIR_BUDGET, or the
    touched-component member pull exceeds ``member_limit`` rows (ADVICE
    r3: the candidate cap alone does not bound the member fetch — one
    degenerate mega-component could OOM the driver even on a tiny batch);
    the caller then runs the distributed plan.

    Every step mirrors the Catalyst expressions bit-for-bit: block sizes
    count token OCCURRENCES (explode semantics), a NULL type joins no
    block, pairs are anchored on a new side and ordered key_a < key_b, the
    predicate is the reference's containment gate (len>3 substring either
    way) AND token-set Jaccard > 0.5 (array_intersect/array_union are set
    ops), comp = min member key (CC semantics), entity_id =
    sha2(type|min-nonempty-norm, 256)[:16] with min-key fallback
    (_assign_entity_ids; concat_ws skips a NULL type). A NULL name has NULL
    norm and tokens: it blocks nowhere and keeps its NULL norm. UTF-8 byte
    order is code-point order, so Python's string min/ordering matches
    UTF8String's."""
    import hashlib
    from collections import defaultdict
    from itertools import chain, combinations, product

    n = len(cand_pdf)
    keys = cand_pdf["key"].tolist()
    types = cand_pdf["type"].tolist()
    names = cand_pdf["name"].tolist()
    norms = cand_pdf["norm"].tolist()
    texts = [x or "" for x in norms]  # NULL fails the gate exactly like ""
    toks = [[] if t is None else list(t) for t in cand_pdf["tokens"].tolist()]
    is_new = cand_pdf["is_new"].tolist()
    prior_comp = cand_pdf["comp"].tolist()

    blocks: dict[tuple[str, str], list[int]] = defaultdict(list)
    for i in range(n):
        if types[i] is not None:
            for t in toks[i]:
                blocks[(types[i], t)].append(i)

    # size the Python work before doing it: pairs with a new side, per kept
    # block (oversized blocks are purged, occurrence-counted)
    kept, n_pairs = [], 0
    for idxs in blocks.values():
        if len(idxs) > max_block:
            continue
        uniq = set(idxs)
        new = sorted(i for i in uniq if is_new[i])
        old = [i for i in uniq if not is_new[i]]
        n_pairs += len(new) * len(old) + len(new) * (len(new) - 1) // 2
        kept.append((new, old))
    if n_pairs > DRIVER_PAIR_BUDGET:
        return None

    tok_sets = [set(t) for t in toks]
    edges: set[tuple[int, int]] = set()
    for new, old in kept:
        for i, j in chain(combinations(new, 2), product(new, old)):
            if keys[i] < keys[j]:
                a, b = i, j
            elif keys[j] < keys[i]:
                a, b = j, i
            else:
                continue
            if (a, b) in edges:
                continue
            na, nb = texts[a], texts[b]
            if not ((len(na) > 3 and na in nb) or (len(nb) > 3 and nb in na)):
                continue
            union = len(tok_sets[a] | tok_sets[b])
            if union == 0 or len(tok_sets[a] & tok_sets[b]) / union <= 0.5:
                continue
            edges.add((a, b))

    # touched components: prior endpoints of an actual verified edge
    touched = {prior_comp[i] for e in edges for i in e if not is_new[i]}

    # every member of a touched component (pushed isin filter: components
    # are a point-lookup-sized set, the scan prunes on the comp column)
    rows: dict[str, tuple] = {}   # key -> (type, name, norm, pcomp, pid)
    for i in range(n):
        if is_new[i]:
            rows[keys[i]] = (types[i], names[i], norms[i], None, None)
    if touched:
        if len(touched) <= 1000:
            flt = prior_map.filter(F.col("comp").isin(sorted(touched)))
        else:
            # a literal isin of 10^4+ values bloats the plan; broadcast a
            # one-column frame instead (same pushdown-free semantics)
            spark_touched = local_frame(
                spark, [(c,) for c in sorted(touched)], "comp string"
            )
            flt = prior_map.join(F.broadcast(spark_touched), "comp")
        mem_sel = flt.select("key", "type", "name", "norm", "comp", "entity_id")
        if member_limit:
            # bound the member fetch like the candidate fetch: limit+1 and
            # bail to the distributed path on overflow (arbitrary subset is
            # fine — it is discarded)
            mem_pdf = mem_sel.limit(member_limit + 1).toPandas()
            if len(mem_pdf) > member_limit:
                return None
        else:
            mem_pdf = mem_sel.toPandas()
        for r in mem_pdf.itertuples(index=False):
            rows[r.key] = (r.type, r.name, r.norm, r.comp, r.entity_id)

    # components over verified edges + virtual edges (member → prior comp)
    label = union_find([
        *((keys[a], keys[b]) for a, b in edges),
        *((k, pcomp) for k, (_, _, _, pcomp, _) in rows.items()
          if pcomp is not None),
    ])
    groups: dict[str, list[str]] = defaultdict(list)
    for k in rows:
        groups[label.get(k, k)].append(k)
    out = []
    for comp, members in groups.items():
        nonempty = [rows[k][2] for k in members if rows[k][2]]
        rep = min(nonempty) if nonempty else comp
        ktype = rows[members[0]][0]
        basis = rep if ktype is None else f"{ktype}|{rep}"
        eid = "ent_" + hashlib.sha256(basis.encode("utf-8")).hexdigest()[:16]
        for k in members:
            t, nm, no, pcomp, pid = rows[k]
            if pcomp == comp and pid == eid:
                continue  # unchanged member: no merge, no tombstone
            out.append((k, t, nm, no, comp, eid))
    return local_frame(spark, out, _MAPPING_SCHEMA)


def canonical_mapping_incremental(
    prior_map: DataFrame, batch_keys: DataFrame, max_block: int = 1000,
    embedding_link: bool = False, embedding_threshold: float = 0.75,
    driver_threshold: int = 50_000,
) -> DataFrame:
    """TOUCHED-COMPONENTS-ONLY re-canonicalization (VERDICT r2 watch-item:
    the full-ledger CC per batch is O(history) at 10^9 distinct surfaces),
    and the engine's only canonicalization: over an empty ``prior_map``
    (``empty_mapping``) every surface is new and comes back, which is the
    full relink (``canonical_mapping``, the pipeline's first batch and
    link-config drift).

    Edges are a pure pairwise function of surface strings, so a new batch
    can only change components REACHABLE FROM ITS NEW SURFACES: a
    new-surface edge requires a shared blocking token, and old↔old edges
    were already in the prior graph. The incremental step therefore:

      1. anti-joins the batch's distinct surfaces against the persisted
         mapping table → genuinely-new surfaces (empty → nothing to do);
      2. finds prior surfaces sharing a blocking token (and, when
         embedding linking is on, a raw char-n-gram) with a new surface;
      3. pulls EVERY member of their components (components are closed, so
         transitive merges via chains of new surfaces stay correct);
      4. re-runs the similarity join + CC on that sub-universe only, with
         VIRTUAL edges (member.key ↔ member.comp) preserving prior
         connectivity without re-verifying old↔old pairs;
      5. re-assigns content-addressed entity ids on the new components.

    Returns mapping rows (key, type, name, norm, comp, entity_id) for the
    CHANGED surfaces only — genuinely-new surfaces plus prior surfaces whose
    (comp, entity_id) moved; unchanged rows (including every row of an
    untouched component) are absent, so the downstream mapping MERGE and
    tombstone derivation are O(changed), not O(sub-universe). Cost is
    O(batch + edge-touched members), independent of history size.

    Edge build is ANCHORED on the new surfaces: old↔old connectivity is
    already encoded in the prior comp labels (virtual edges below), so only
    new↔old and new↔new pairs are verified. Components are pulled only when
    an actual verified edge reaches them — a shared blocking token alone no
    longer drags a component into the re-link (the round-3 diagnosis: under
    a Zipf tail, token-bridge fan-out pulled ~35 components per genuinely
    new surface and re-verified + re-emitted all of them per batch).

    Block-cap parity: every block containing a new surface carries ALL its
    global members (the bridge pulls every prior surface sharing the
    token), so oversized-block purging sees exact global sizes — identical
    to a from-scratch run at this point in history. The only remaining
    divergence is inherent to incrementality: merges are monotone, so an
    edge formed when its block was under the cap persists even after the
    block later outgrows it (a from-scratch run would purge it).
    """
    from .linking import raw_char_ngrams_expr
    from .normalize import norm_tokens_expr

    check_int("max_block", max_block)  # the driver twin never reaches purge_blocks
    key_cols = ["key", "type", "name", "norm", "tokens"]
    new_keys = batch_keys.join(
        prior_map.select("key"), "key", "left_anti"
    ).select(*key_cols)
    prior_keys = prior_map.select(
        "key", "type", "name", "norm", "comp",
        norm_tokens_expr("name").alias("tokens"),
    )

    # --- bridge: prior surfaces sharing a blocking token (plus a raw char
    # n-gram when embedding linking is on) with a genuinely-new surface
    if embedding_link:
        def _tok_of(df):
            return df.select(
                "key", "type",
                F.explode(
                    F.array_union("tokens", raw_char_ngrams_expr("norm"))
                ).alias("tok"),
            )
    else:
        def _tok_of(df):
            return df.select("key", "type", F.explode("tokens").alias("tok"))

    new_toks = _tok_of(new_keys).select("type", "tok").distinct()
    bridged = (
        _tok_of(prior_keys)
        .join(F.broadcast(new_toks), ["type", "tok"])
        .select("key").distinct()
        .join(prior_keys, "key")
    )

    # --- adaptive driver fast path (the same runtime decision CC makes
    # with its ≤2M-edge union-find): the steady-state sub-universe is a few
    # hundred to a few thousand rows, but the distributed verify → CC →
    # assign chain is ~20 shuffle stages whose pure scheduling latency
    # (~15s observed on local[8] for 114 output rows) dwarfs the compute.
    # Below the threshold, ONE Arrow collect + pure-Python twin of the
    # exact same predicate/UF/assignment + one pushed-filter member fetch
    # replaces the whole chain; the distributed path remains for large
    # batches (fresh domains, a full relink past the threshold) and for
    # embedding_link, whose hashed-cosine math stays Catalyst-only.
    # Equality of the two paths is pinned by test_driver_path_equals_distributed
    # (test_incremental_mapping.py, test_canonical_mapping_driver.py).
    if not embedding_link and driver_threshold:
        cand_pdf = (
            new_keys.withColumn("is_new", F.lit(True))
            .withColumn("comp", F.lit(None).cast("string"))
            .unionByName(
                bridged.select(*key_cols, "comp")
                .withColumn("is_new", F.lit(False))
            )
            .limit(driver_threshold + 1)
            .toPandas()
        )
        if len(cand_pdf) <= driver_threshold:
            res = _driver_canonicalize(
                prior_map.sparkSession, cand_pdf, max_block,
                prior_map=prior_map, member_limit=driver_threshold,
            )
            if res is not None:
                return res
        # over threshold (candidates, in-block pairs OR touched-component
        # members): fall through to the distributed plan (recomputes the
        # bridge — acceptable for the rare huge-batch / mega-component case)

    # --- edges: verify ONLY pairs with a new side, over new ∪ bridged
    cand_universe = new_keys.withColumn("is_new", F.lit(True)).unionByName(
        bridged.select(*key_cols).withColumn("is_new", F.lit(False))
    )
    edges = similarity_edges(
        cand_universe, max_block=max_block, anchor="is_new"
    ).select("key_a", "key_b")
    if embedding_link:
        edges = edges.unionByName(
            embedding_similarity_edges(
                cand_universe, threshold=embedding_threshold,
                max_block=max_block, anchor="is_new",
            ).select("key_a", "key_b")
        )
    # edges feed three consumers (touched-comp derivation, virtual-edge
    # union, CC) AND sit UPSTREAM of the node set (the touched members
    # join the new surfaces as CC nodes). Without truncation the
    # edge subtree is replicated through members → sub_keys → CC → the
    # _assign_entity_ids window, and the logical plan grows
    # multiplicatively (observed: explainString OOMs the driver). Eager
    # localCheckpoint computes the verify join exactly once and replaces
    # the subtree with an RDD scan leaf — the same lineage-truncation CC
    # itself uses per round.
    edges = edges.localCheckpoint(eager=True)

    # --- touched components: prior endpoints of an actual verified edge
    endpoints = (
        edges.select(F.col("key_a").alias("key"))
        .unionByName(edges.select(F.col("key_b").alias("key")))
        .distinct()
    )
    cand = prior_keys.join(endpoints, "key").select("comp").distinct()
    # every member of a touched component (components are closed, so
    # transitive merges via chains of new surfaces stay correct)
    members = prior_keys.join(cand, "comp").select(
        "key", "type", "name", "norm", F.col("comp").alias("prior_comp")
    )
    sub_keys = new_keys.select("key", "type", "name", "norm").unionByName(
        members.drop("prior_comp")
    )
    # virtual edges pin prior components together (comp label is itself a
    # member key, so it is a valid node id)
    virtual = members.filter(F.col("key") != F.col("prior_comp")).select(
        F.col("key").alias("key_a"), F.col("prior_comp").alias("key_b")
    )
    comp = connected_components(sub_keys, edges.unionByName(virtual), id_col="key")
    mapped = sub_keys.join(comp, "key", "left").withColumn(
        "comp", F.coalesce("comp", "key")
    )
    out = _assign_entity_ids(mapped).select(
        "key", "type", "name", "norm", "comp", "entity_id"
    )
    # --- changed rows only: a member that kept its comp AND entity_id needs
    # no mapping merge, no tombstone, no vertex-id churn (its n_mentions
    # refresh rides on touched_eids in the pipeline, derived from updates)
    return out.join(
        prior_map.select("key", "comp", "entity_id"),
        ["key", "comp", "entity_id"], "left_anti",
    ).select("key", "type", "name", "norm", "comp", "entity_id")


def build_vertices(mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """One row per canonical entity; representative surface = most-mentioned
    name (count desc, name desc tiebreak — deterministic), attributes =
    greatest non-null per column within the surface (batch form of the
    reference's last-writer-wins attribute refresh, reference
    src/db/neo4j_handler.py:188-216). `max` rather than `first` because
    `first` is partition-order dependent: a crash replay could pick a
    different value, turn the vertices merge into a spurious rewrite, and
    emit phantom CDC deltas for unchanged entities.

    ``mentions`` is whatever universe the caller canonicalized — the
    resumable pipeline passes its full surface_mentions ledger, so counts
    here are cumulative AND replay-safe by construction (the ledger is a
    keyed idempotent merge; review findings r2-3/r2-7).
    """
    m = mentions.join(
        mapping.select("type", "name", "comp", "entity_id", "norm"),
        ["type", "name"],
    )
    # two-level agg: per-surface counts first (partial agg map-side), then
    # max_by(count, surface) per entity — deterministic via name tiebreak.
    per_surface = m.groupBy("entity_id", "type", "name").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("norm").alias("norm"),  # norm is a function of the group key
        F.max("companyName").alias("companyName"),
        F.max("ticker").alias("ticker"),
        F.max("industry").alias("industry"),
        F.max("country").alias("country"),
    )
    rep = F.max(
        F.struct(
            F.col("n"), F.col("name"), F.col("norm"),
            F.col("companyName"), F.col("ticker"),
            F.col("industry"), F.col("country"),
        )
    ).alias("rep")
    agg = per_surface.groupBy("entity_id", "type").agg(
        rep, F.sum("n").alias("n_mentions")
    )
    return agg.select(
        "entity_id", "type",
        F.col("rep.name").alias("name"),
        F.col("rep.norm").alias("norm_name"),
        F.col("rep.companyName").alias("companyName"),
        F.col("rep.ticker").alias("ticker"),
        F.col("rep.industry").alias("industry"),
        F.col("rep.country").alias("country"),
        "n_mentions",
    )


def build_triples(raw_triples: DataFrame, mentions: DataFrame,
                  mapping: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Remap relationship endpoints to canonical ids.

    Returns (triples, dropped, joined) — dropped rows have an unmapped
    endpoint (reference drops them silently at src/db/neo4j_handler.py:346-350;
    we return them so the pipeline can count them into lineage). ``joined``
    is the PERSISTED endpoint-join intermediate both outputs derive from —
    caller counts/filters against it without re-running the join chain, and
    owns its ``unpersist``.
    """
    ment_map = mentions.join(
        mapping.select("type", "name", "entity_id"), ["type", "name"]
    ).select("doc_id", "local_id", "entity_id", F.col("companyName").alias("canon_name"))

    src = ment_map.select(
        "doc_id",
        F.col("local_id").alias("src_local"),
        F.col("entity_id").alias("subj"),
        F.col("canon_name").alias("subj_name"),
    )
    tgt = ment_map.select(
        "doc_id",
        F.col("local_id").alias("tgt_local"),
        F.col("entity_id").alias("obj"),
        F.col("canon_name").alias("obj_name"),
    )
    joined = raw_triples.join(src, ["doc_id", "src_local"], "left").join(
        tgt, ["doc_id", "tgt_local"], "left"
    ).persist()
    ok = joined.filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
    dropped = joined.filter(F.col("subj").isNull() | F.col("obj").isNull())

    # symmetric predicates canonicalized by sorted endpoints (SURVEY §1.3).
    # Name order must be TOTAL or both orientations of one fact survive:
    # NULL names coalesce to '' (NULL > x is NULL -> never swapped) and
    # name ties (distinct entities sharing a canon_name) tie-break on the
    # non-null unique entity id.
    sym = F.lower("pred").isin("mergedwith", "partnerswith")
    sn = F.coalesce(F.col("subj_name"), F.lit(""))
    on = F.coalesce(F.col("obj_name"), F.lit(""))
    swap = sym & ((sn > on) | ((sn == on) & (F.col("subj") > F.col("obj"))))
    triples = ok.select(
        "doc_id",
        F.when(swap, F.col("obj")).otherwise(F.col("subj")).alias("subj"),
        F.col("pred"),
        F.when(swap, F.col("subj")).otherwise(F.col("obj")).alias("obj"),
        F.when(swap, F.col("obj_name")).otherwise(F.col("subj_name")).alias("subj_name"),
        F.when(swap, F.col("subj_name")).otherwise(F.col("obj_name")).alias("obj_name"),
        F.upper("pred").alias("pred_label"),   # reference :264 storage casing
        "valueAmount", "percentage", "transactionDate",
    ).dropDuplicates(["doc_id", "subj", "pred", "obj", "valueAmount",
                      "percentage", "transactionDate"])
    return triples, dropped, joined


# ---------------------------------------------------------------------------
# Partition-scoped idempotent upsert (parquet emulation of Iceberg MERGE INTO)
#
# Layout — the only one any reader or writer here knows:
#   table_path/bucket=<id>/v_<n>/<parquet files>   immutable version dirs
#   table_path/_metadata/v<sid>.metadata.json      one file per snapshot:
#       bucket → [version dirs], bucket count, schema, file stats, MOR state
#   table_path/_metadata/version-hint.text          the live snapshot id
# A directory without a committed snapshot is not a table: reads raise.
#
# A merge rewrites ONLY the buckets its update keys hash into — an
# incremental batch touching 0.1% of keys rewrites ~0.1% of a 100 TB
# table, not all of it. The COMMIT POINT is a single atomic os.replace of
# version-hint.text (POSIX rename atomicity): data dirs and the metadata
# file are staged first, so a crash at any instant leaves the WHOLE TABLE
# readable at either the previous or the new snapshot — never a torn
# cross-bucket state.
#
# This is exactly Iceberg's commit model (metadata.json + version-hint).
# The metadata is the single source of the table's bucket count and
# schema, so re-bucketing (``rebucket_table``) is just another snapshot —
# readers and subsequent merges resolve the layout from metadata, never
# from a hardcoded constant, and zero-row tables read through the
# recorded schema.
#
# Every writer (merge_upsert, rebucket_table, compact_table, cluster_table,
# truncate_table) stages its files in one ``_staging`` dir, removed on
# every exit, and hands them to ``_build_snapshot``: install the staged
# dirs, read each one's parquet footers once (``_footer_stats``), build the
# next snapshot from the base one, compare-and-swap commit, GC. Its rules:
# - a REPLACED bucket holds exactly its new dirs and its deletes clear;
# - an APPENDED bucket keeps its prior dirs and its stats add up;
# - a DROPPED bucket (or a replaced one left without rows) loses its
#   stats and deletes; a staged dir with no rows is never installed;
# - ``dir_stats``/``dir_seq`` cover exactly the live data dirs; new dirs'
#   sequence numbers are stamped with the commit's snapshot id;
# - ``delete_keys`` is kept only while deletes remain: the table's
#   recorded keys, else the merge's.
# ``rollback_table`` is the one other commit: it copies its target's
# metadata verbatim.
# ---------------------------------------------------------------------------

DEFAULT_MERGE_BUCKETS = 32  # one-box default; a real deployment sizes this
                            # so a bucket ~ a few GB (e.g. 4096 at 100 TB)


def _bucket_expr(keys: list[str], n_buckets: int):
    # deterministic over nullable keys: xxhash64 folds NULL as a no-op but
    # stays a pure function of the key tuple
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _bucket_dirs(table_path: str) -> list[str]:
    import os

    if not os.path.isdir(table_path):
        return []
    return sorted(
        d for d in os.listdir(table_path)
        if d.startswith("bucket=") and os.path.isdir(os.path.join(table_path, d))
    )


def _next_version(bucket_dir: str) -> str:
    """Next free version name: max over EXISTING v_* dirs, +1. Scanning
    the dirs (not the snapshot's map) makes replay after a crash between
    the version-dir rename and the snapshot commit safe — the orphaned dir
    is skipped instead of colliding with the rename."""
    import os

    nums = [0]
    if os.path.isdir(bucket_dir):
        for d in os.listdir(bucket_dir):
            if d.startswith("v_"):
                try:
                    nums.append(int(d[2:]))
                except ValueError:
                    pass
    return f"v_{max(nums) + 1:07d}"


def _fsync_dir(path: str) -> None:
    """fsync a directory's entries (rename durability); best-effort on
    filesystems that refuse O_DIRECTORY opens."""
    import os

    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _install_version(src_dir: str, bucket_dir: str) -> str:
    """Move a staged bucket dir to the next free immutable version name.
    Collision-tolerant: a concurrent writer may install the same v_N first
    (its rename wins, ours gets ENOTEMPTY/EEXIST) — rescan and take the
    next slot; version names only need uniqueness, the snapshot's bucket
    map is what readers resolve. Only collision errnos retry: anything
    else (ENOSPC, EACCES, a vanished src) propagates immediately instead
    of spinning 1000 rescans and masking the real failure."""
    import errno
    import os

    for _ in range(1000):
        nxt = _next_version(bucket_dir)
        try:
            os.rename(src_dir, os.path.join(bucket_dir, nxt))
            # make the rename itself durable BEFORE the snapshot commit
            # references it: the commit's metadata dir is fsync'd, so an
            # unfsync'd data-dir rename could be the only thing a power
            # loss drops — a durable snapshot pointing at a vanished dir.
            _fsync_dir(bucket_dir)
            return nxt
        except OSError as e:
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            continue
    raise RuntimeError(f"could not claim a version slot in {bucket_dir}")


SNAPSHOT_RETENTION = 3  # snapshots kept readable (time-travel window)
AUTO_COMPACT_FILES = 8  # max data files per bucket before a merge folds the
                        # bucket into its rewrite (inline compaction)


def _meta_dir(table_path: str) -> str:
    import os

    return os.path.join(table_path, "_metadata")


def _meta_path(table_path: str, sid: int) -> str:
    import os

    return os.path.join(_meta_dir(table_path), f"v{sid:07d}.metadata.json")


def _hint_sid(table_path: str) -> int | None:
    import os

    p = os.path.join(_meta_dir(table_path), "version-hint.text")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        txt = f.read().strip()
    return int(txt) if txt else None


def _load_meta(table_path: str, sid: int) -> dict | None:
    import json
    import os

    p = _meta_path(table_path, sid)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _max_meta_sid(table_path: str) -> int:
    """Highest metadata file id on disk — NOT the hint: a crash between the
    metadata write and the hint swap leaves an orphan metadata file whose id
    must not be reused by the replayed commit."""
    return max(_meta_sids_on_disk(table_path), default=0)


def _footer_stats(version_dir: str) -> tuple[dict, dict]:
    """One pass over a dir's parquet footers — the manifest metadata Iceberg
    keeps per data file, at zero extra Spark jobs: file stats (rows, bytes,
    files) and per-column [min, max] from the row-group statistics. Only
    JSON-safe atomic types (int/float/str/bool) get bounds; a column any of
    whose chunks lacks stats is omitted (absent bounds == never prune,
    always safe)."""
    import os

    import pyarrow.parquet as pq

    ok_types = (int, float, str, bool)
    totals = {"rows": 0, "bytes": 0, "files": 0}
    bounds: dict[str, list] = {}
    dead: set[str] = set()
    for f in os.listdir(version_dir):
        fp = os.path.join(version_dir, f)
        if not (f.endswith(".parquet") and os.path.isfile(fp)):
            continue
        md = pq.ParquetFile(fp).metadata
        totals["rows"] += md.num_rows
        totals["bytes"] += os.path.getsize(fp)
        totals["files"] += 1
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in dead:
                    continue  # nested fields: skip (top-level atomics only)
                st = col.statistics
                if (
                    st is None or not st.has_min_max
                    or not isinstance(st.min, ok_types)
                    or not isinstance(st.max, ok_types)
                    or isinstance(st.min, bool) != isinstance(st.max, bool)
                ):
                    dead.add(name)
                    bounds.pop(name, None)
                    continue
                cur = bounds.get(name)
                if cur is None:
                    bounds[name] = [st.min, st.max]
                else:
                    cur[0] = min(cur[0], st.min)
                    cur[1] = max(cur[1], st.max)
    return totals, bounds


def read_graph_table_pruned(spark: SparkSession, table_path: str,
                            ranges: dict) -> DataFrame:
    """Range scan with FILE SKIPPING on the snapshot's per-dir column
    bounds (the Iceberg manifest-pruning analog, orthogonal to bucket
    pruning — buckets prune point lookups by key hash, bounds prune RANGE
    predicates on any recorded column): a version dir whose recorded
    [min, max] cannot intersect the requested range is never opened.

    ``ranges`` maps column → (lo, hi); either bound may be None (open).
    The exact predicate is always applied on top, so dirs without recorded
    bounds (non-atomic columns) degrade to read+filter, never to wrong
    results."""
    from functools import reduce

    def _pred(df):
        cs = []
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cs.append(F.col(c) >= F.lit(lo))
            if hi is not None:
                cs.append(F.col(c) <= F.lit(hi))
        return df.filter(reduce(lambda a, b: a & b, cs)) if cs else df

    state = _table_state(table_path)
    if not state or not state["dir_stats"]:
        return _pred(read_graph_table(spark, table_path))
    dstats = state["dir_stats"]

    def _keep(b: str, v: str) -> bool:
        st = dstats.get(f"{b}/{v}")
        if not st:
            return True  # absent bounds: never prune, always safe
        for c, (lo, hi) in ranges.items():
            if c not in st:
                continue
            cmin, cmax = st[c]
            if (lo is not None and cmax < lo) or (hi is not None and cmin > hi):
                return False
        return True

    # only DATA dirs are skipped; a bucket's equality-delete dirs always
    # load (_snapshot_scan) — skipping a delete would resurrect rows in
    # the dirs that do get read
    out = _snapshot_scan(spark, table_path, state, data_dir_filter=_keep,
                         strict=False)
    if out is None:
        out = _empty_df(spark, state)
    return _pred(out)


def table_stats(table_path: str) -> dict | None:
    """Live-snapshot stats: total/per-bucket rows, bytes and file counts
    (from commit-time footers — no scan). The ops answer to 'is this table
    skewed / due a rebucket_table?': a bucket many times the median size
    means the hash key has heavy hitters or the layout is outgrown. None
    for a path with no committed snapshot."""
    state = _table_state(table_path)
    if not state:
        return None
    per = state["stats"]
    return {
        "n_buckets": state["n_buckets"],
        "rows": sum(s.get("rows", 0) for s in per.values()),
        "bytes": sum(s.get("bytes", 0) for s in per.values()),
        "files": sum(s.get("files", 0) for s in per.values()),
        "buckets": per,
    }


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot after this operation read its
    base state, so the staged bucket map would clobber the winner's buckets.
    ``merge_upsert`` absorbs this by recomputing from the fresh snapshot and
    retrying; offline maintenance ops (rebucket/compact/truncate) surface it
    to the operator."""


def _live_sid(table_path: str) -> int:
    """Snapshot id readers currently resolve — the hint file, else 0 (no
    committed snapshot)."""
    sid = _hint_sid(table_path)
    return 0 if sid is None else sid


def _commit_lock(table_path: str, timeout: float = 60.0):
    """Serialize check-and-swap across same-box writers via a kernel-managed
    ``flock`` on a persistent lock file. On a real deployment this role
    belongs to the Iceberg CATALOG's atomic compare-and-swap (Hive lock /
    Nessie / REST catalog); one box has POSIX advisory locks. flock (not a
    stat-mtime staleness heuristic, which is a check-then-remove TOCTOU:
    two waiters could both judge a lock stale and the second remove would
    delete the first claimer's FRESH lock, admitting two writers) is owned
    by the kernel — a crashed holder's lock is released with its process,
    so there is no takeover race and no stale window to tune."""
    import contextlib
    import fcntl
    import os
    import time as _time

    @contextlib.contextmanager
    def _lock():
        md = _meta_dir(table_path)
        os.makedirs(md, exist_ok=True)
        lp = os.path.join(md, ".commit.lock")
        fd = os.open(lp, os.O_CREAT | os.O_WRONLY)
        t0 = _time.monotonic()
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if _time.monotonic() - t0 > timeout:
                        raise TimeoutError(
                            f"commit lock busy > {timeout}s: {lp}"
                        )
                    _time.sleep(0.05)
            yield
        finally:
            try:
                fcntl.flock(fd, fcntl.LOCK_UN)
            except OSError:
                pass
            os.close(fd)

    return _lock()


def _commit_snapshot(table_path: str, buckets_map: dict[str, list[str]],
                     n_buckets: int, schema,
                     stats: dict | None = None,
                     base_sid: int | None = None,
                     dir_stats: dict | None = None,
                     deletes: dict | None = None,
                     dir_seq: dict | None = None,
                     delete_keys: list[str] | None = None) -> int:
    """THE commit: write the snapshot's metadata file (staged via tmp +
    os.replace), then atomically swap version-hint.text onto it. A crash
    before the hint swap leaves the previous snapshot live and the new
    metadata file an ignored orphan; a crash after it leaves the new
    snapshot fully live — there is no intermediate state.

    ``base_sid`` makes the swap a COMPARE-and-swap (Iceberg's optimistic
    concurrency): if the live snapshot moved past the base this writer
    staged against, raise :class:`CommitConflictError` instead of
    installing a bucket map that silently drops the winner's buckets.
    The check-and-swap pair is serialized by the per-table commit lock.

    Merge-on-read state (Iceberg format-v2 row-level deletes): ``deletes``
    maps bucket → [[delete_dir, seq], ...] (equality-delete files) and
    ``dir_seq`` maps "bucket/dir" → data sequence number. Entries whose
    seq is None were staged THIS commit — the snapshot id is assigned
    under the lock, so they are stamped with it here (Iceberg gives a
    commit's data and delete files the same sequence number; deletes
    apply strictly to LOWER sequences)."""
    import json
    import os
    import time as _time

    md = _meta_dir(table_path)
    os.makedirs(md, exist_ok=True)
    with _commit_lock(table_path):
        if base_sid is not None and _live_sid(table_path) != base_sid:
            raise CommitConflictError(
                f"{table_path}: live snapshot {_live_sid(table_path)} != "
                f"staged base {base_sid}"
            )
        sid = _max_meta_sid(table_path) + 1
        stamped_deletes = {
            b: [[d, sid if s is None else int(s)] for d, s in items]
            for b, items in (deletes or {}).items() if items
        }
        stamped_seq = {
            k: (sid if s is None else int(s))
            for k, s in (dir_seq or {}).items()
        }
        meta = {
            "snapshot_id": sid,
            "ts": _time.time(),
            "n_buckets": n_buckets,
            "buckets": buckets_map,
            "stats": stats if stats is not None else {},
            "dir_stats": dir_stats if dir_stats is not None else {},
            "schema": schema.jsonValue(),
            "deletes": stamped_deletes,
            "dir_seq": stamped_seq,
            "delete_keys": delete_keys or None,
        }
        tmp = os.path.join(md, f".v{sid:07d}.metadata.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, _meta_path(table_path, sid))
        tmp = os.path.join(md, ".version-hint.tmp")
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(md, "version-hint.text"))
        # fsync the directory so the renames themselves survive power loss
        # — POSIX allows a crash to drop a rename whose directory entry was
        # never flushed, which would silently un-commit an acknowledged
        # snapshot (a CDC consumer may already hold its sid as an offset).
        _fsync_dir(md)
    return sid


def _table_state(table_path: str) -> dict | None:
    """Live table state: the metadata of the snapshot version-hint.text
    names, or None when the path holds no committed snapshot."""
    sid = _hint_sid(table_path)
    return None if sid is None else _load_meta(table_path, sid)


def _meta_sids_on_disk(table_path: str) -> list[int]:
    """Sorted snapshot ids with a metadata file present. A directory listing,
    not range(1, hint): with metadata expiry the listing stays O(retention)
    while the hint grows without bound — scanning up to the hint would make
    every GC pay O(total-commits) driver file I/O."""
    import os
    import re

    d = _meta_dir(table_path)
    if not os.path.isdir(d):
        return []
    sids = []
    for f in os.listdir(d):
        m = re.fullmatch(r"v(\d+)\.metadata\.json", f)
        if m:
            sids.append(int(m.group(1)))
    return sorted(sids)


def snapshots(table_path: str) -> list[dict]:
    """All COMMITTED snapshots still on disk, oldest first (Iceberg
    ``.snapshots`` analog — expired snapshots' metadata is GC'd, so the
    list covers the retention window). Metadata files newer than the hint
    are uncommitted orphans from a crashed commit and are excluded; a path
    with no committed snapshot lists none."""
    hint = _hint_sid(table_path)
    if hint is None:
        return []
    out = []
    for sid in _meta_sids_on_disk(table_path):
        if sid > hint:
            continue
        meta = _load_meta(table_path, sid)
        if meta is not None:
            out.append(meta)
    return out


def _tags_path(table_path: str) -> str:
    import os

    return os.path.join(_meta_dir(table_path), "tags.json")


def table_tags(table_path: str) -> dict[str, int]:
    """Named snapshot refs (Iceberg TAG analog): tag name → snapshot id.

    FAIL-CLOSED: a missing tags.json means "no tags", but an unreadable or
    corrupt one RAISES — GC consumes this to decide what may expire, and
    silently treating corruption as "no tags" would let it delete pinned
    snapshots (review r3-1)."""
    import json
    import os

    p = _tags_path(table_path)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {k: int(v) for k, v in json.load(f).items()}


def _write_tags(table_path: str, tags: dict[str, int]) -> None:
    """Durable atomic tags.json swap: flush+fsync BEFORE the rename (same
    discipline as _commit_snapshot) — rename-atomicity alone can still lose
    a just-acknowledged tag to a crash if the tmp content never hit disk
    (review r3-4)."""
    import json
    import os

    tmp = _tags_path(table_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(tags, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _tags_path(table_path))
    _fsync_dir(os.path.dirname(_tags_path(table_path)))


def tag_snapshot(table_path: str, name: str, snapshot_id: int | None = None) -> int:
    """Pin a snapshot under a name (Iceberg ``create_tag``): a tagged
    snapshot is EXEMPT from retention expiry — its metadata and version
    dirs survive ``expire_snapshots`` until the tag is dropped. Default:
    the live snapshot. The audit/publish primitive: tag a validated
    snapshot ('published-2026-08-18') and readers pin to it while later
    merges keep landing."""
    with _commit_lock(table_path):
        sid = int(snapshot_id) if snapshot_id is not None else _live_sid(table_path)
        known = {s["snapshot_id"] for s in snapshots(table_path)}
        if sid not in known:
            raise ValueError(
                f"cannot tag snapshot {sid} of {table_path}: not a committed "
                f"retained snapshot ({sorted(known)})")
        t = table_tags(table_path)
        t[name] = sid
        _write_tags(table_path, t)
    return sid


def drop_tag(table_path: str, name: str) -> None:
    """Drop a named ref; the snapshot re-enters normal retention and the
    next GC may expire it."""
    with _commit_lock(table_path):
        t = table_tags(table_path)
        if name not in t:
            return
        del t[name]
        _write_tags(table_path, t)


ORPHAN_STAGING_TTL_S = 3600.0  # age before a crashed attempt's staging dir
                               # is presumed dead (an ACTIVE concurrent
                               # writer's staging is minutes old at most)


def _gc_orphan_staging(table_path: str) -> None:
    """Remove ``<table>__staging_<uuid>`` dirs left by writer processes
    that died mid-write (``_staging`` removes them on every other exit;
    the Iceberg ``remove_orphan_files`` analog). Age-gated: a LIVE
    concurrent writer's staging dir must survive its own write window, so
    only dirs past ORPHAN_STAGING_TTL_S are dropped."""
    import os
    import shutil
    import time as _time

    parent = os.path.dirname(table_path) or "."
    prefix = os.path.basename(table_path) + "__staging"
    if not os.path.isdir(parent):
        return
    def newest_mtime(p: str) -> float:
        # liveness = the NEWEST mtime anywhere in the tree: the top-level
        # dir's mtime freezes when the write job STARTS, so a live writer
        # whose Spark write outlives the TTL would look orphaned by it —
        # but its task files keep getting written, keeping the tree fresh.
        newest = 0.0
        for root, _dirs, files in os.walk(p):
            try:
                newest = max(newest, os.path.getmtime(root))
            except OSError:
                pass
            for fn in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, fn)))
                except OSError:
                    pass
        return newest

    for d in os.listdir(parent):
        if not d.startswith(prefix):
            continue
        p = os.path.join(parent, d)
        try:
            if newest_mtime(p) < _time.time() - ORPHAN_STAGING_TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # raced with its own cleanup


def _gc_versions(table_path: str) -> None:
    """Expire snapshots beyond the last SNAPSHOT_RETENTION (the Iceberg
    ``expire_snapshots`` analog): drop version dirs referenced ONLY by
    expired snapshots, then the expired snapshots' metadata files (so the
    _metadata dir stays O(retention), not O(total-commits)).

    A version dir referenced by NO on-disk snapshot is ambiguous — it may
    be a crash orphan (commit never swapped the hint), but it may equally
    be a CONCURRENT writer's freshly-installed dir whose commit hasn't
    landed yet; deleting it would make that writer's CAS succeed against a
    snapshot whose data files are gone (silent data loss). Those dirs are
    age-gated like orphan staging: only dropped past ORPHAN_STAGING_TTL_S,
    which an active writer's install→commit window never approaches.

    Runs under the commit lock: the tag set, the expiry decision, and the
    deletions must be one critical section — otherwise a tag created after
    GC reads tags.json but before it deletes can acknowledge a pin whose
    snapshot GC is about to expire (review r3-2). Callers invoke this
    AFTER their own commit's lock is released (no nesting)."""
    with _commit_lock(table_path):
        _gc_versions_locked(table_path)


def _gc_versions_locked(table_path: str) -> None:
    import os
    import shutil
    import time as _time

    _gc_orphan_staging(table_path)
    all_snaps = snapshots(table_path)
    # tagged snapshots (Iceberg refs) are exempt from expiry
    tag_sids = set(table_tags(table_path).values())
    tail = all_snaps[-SNAPSHOT_RETENTION:] if SNAPSHOT_RETENTION else []
    retained = [s for s in all_snaps
                if s in tail or s["snapshot_id"] in tag_sids]
    expired = [s for s in all_snaps if s not in retained]
    live: dict[str, set[str]] = {}
    for s in retained:
        for b, vs in s["buckets"].items():
            live.setdefault(b, set()).update(vs)
        for b, items in (s.get("deletes") or {}).items():
            live.setdefault(b, set()).update(d for d, _ in items)
    expired_ref: dict[str, set[str]] = {}
    for s in expired:
        for b, vs in s["buckets"].items():
            expired_ref.setdefault(b, set()).update(vs)
        for b, items in (s.get("deletes") or {}).items():
            expired_ref.setdefault(b, set()).update(d for d, _ in items)
    cutoff = _time.time() - ORPHAN_STAGING_TTL_S
    for b in _bucket_dirs(table_path):
        bdir = os.path.join(table_path, b)
        keep = live.get(b, set())
        was_expired = expired_ref.get(b, set())
        for d in os.listdir(bdir):
            if not d.startswith("v_") or d in keep:
                continue
            p = os.path.join(bdir, d)
            try:
                if d in was_expired or os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # raced with another GC
    # expired snapshots' metadata files go last: their dirs were reclaimed
    # above, and keeping the files would grow the _metadata listing (and
    # every snapshots() call) linearly with commit history. Uncommitted
    # orphan metadata (sid > hint, crashed commit) is age-gated too.
    hint = _hint_sid(table_path)
    retained_sids = {s["snapshot_id"] for s in retained}
    for sid in _meta_sids_on_disk(table_path):
        if sid in retained_sids:
            continue
        mp = _meta_path(table_path, sid)
        try:
            if (hint is not None and sid <= hint) or os.path.getmtime(mp) < cutoff:
                os.remove(mp)
        except OSError:
            pass


@contextlib.contextmanager
def _staging(table_path: str):
    """A fresh ``<table>__staging_<uuid>`` dir for one write attempt —
    concurrent writers and conflict retries never share one — removed on
    every exit, error paths included. Only a process that dies mid-write
    leaves it behind, for ``_gc_orphan_staging``."""
    import shutil
    import uuid

    path = f"{table_path}__staging_{uuid.uuid4().hex[:12]}"
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _staged_buckets(staging_dir: str) -> dict[str, list[str]]:
    """bucket name → [staged dir] for a ``partitionBy("__bucket")`` write."""
    import os

    if not os.path.isdir(staging_dir):
        return {}
    return {
        f"bucket={int(d.split('=', 1)[1])}": [os.path.join(staging_dir, d)]
        for d in os.listdir(staging_dir)
        if d.startswith("__bucket=") and os.path.isdir(os.path.join(staging_dir, d))
    }


def _build_snapshot(table_path: str, base: dict | None, n_buckets: int, schema,
                    replace: dict[str, list[str]] | None = None,
                    append: dict[str, list[str]] | None = None,
                    drop: list[str] = (),
                    add_deletes: dict[str, list[str]] | None = None,
                    delete_keys: list[str] | None = None) -> int:
    """THE snapshot builder every table writer commits through (rules in
    the section comment above). ``base`` is the state the writer staged
    against (None for a first write); ``replace``/``append``/``add_deletes``
    map bucket name → staged dirs (data, data, equality-delete);
    ``drop`` names buckets to remove. Installs the staged dirs, reads each
    data dir's footers once, compare-and-swap commits against ``base``
    (CommitConflictError if another writer landed since), then expires
    versions beyond retention. Returns the new snapshot id."""
    import os

    base = base or {}
    buckets = dict(base.get("buckets") or {})
    stats = dict(base.get("stats") or {})
    dir_stats = dict(base.get("dir_stats") or {})
    dir_seq = dict(base.get("dir_seq") or {})
    deletes = {b: list(v) for b, v in (base.get("deletes") or {}).items()}

    for b in (*drop, *(replace or {})):
        # dropped and replaced buckets start empty; a rewrite's resolved
        # read already applied the bucket's deletes
        buckets.pop(b, None)
        stats.pop(b, None)
        deletes.pop(b, None)
    for b, staged in [*(replace or {}).items(), *(append or {}).items()]:
        bdir = os.path.join(table_path, b)
        for src in staged:
            fs, bounds = _footer_stats(src)
            if not fs["rows"]:
                continue  # an empty range chunk, or a bucket deletes emptied
            os.makedirs(bdir, exist_ok=True)
            nxt = _install_version(src, bdir)
            buckets[b] = buckets.get(b, []) + [nxt]
            old = stats.get(b) or {}
            stats[b] = {k: old.get(k, 0) + n for k, n in fs.items()}
            dir_stats[f"{b}/{nxt}"] = bounds
            dir_seq[f"{b}/{nxt}"] = None  # stamped with the commit's sid
    for b, staged in (add_deletes or {}).items():
        bdir = os.path.join(table_path, b)
        os.makedirs(bdir, exist_ok=True)
        deletes.setdefault(b, []).extend(
            [_install_version(src, bdir), None] for src in staged)
    live = {f"{b}/{v}" for b, vs in buckets.items() for v in vs}
    deletes = {b: v for b, v in deletes.items() if b in buckets and v}
    sid = _commit_snapshot(
        table_path, buckets, n_buckets, schema,
        {b: s for b, s in stats.items() if b in buckets},
        base_sid=base.get("snapshot_id", 0),
        dir_stats={k: v for k, v in dir_stats.items() if k in live},
        deletes=deletes,
        dir_seq={k: v for k, v in dir_seq.items() if k in live},
        delete_keys=(base.get("delete_keys") or delete_keys) if deletes else None,
    )
    _gc_versions(table_path)
    return sid


def _retained_snapshot(table_path: str, sid: int) -> dict:
    """Metadata of committed snapshot ``sid``, which must still be within
    the retention window (time travel, rollback, CDC)."""
    meta = _load_meta(table_path, sid)
    if meta is None:
        raise ValueError(
            f"no snapshot {sid} recorded for {table_path} (expired past "
            f"retention={SNAPSHOT_RETENTION}, or never committed)"
        )
    return meta


def _retained_dirs(table_path: str, sid: int,
                   dirs: list[tuple[str, str]]) -> list[str]:
    """Paths of the (bucket, version dir) pairs snapshot ``sid`` references;
    ValueError if retention GC already removed one."""
    import os

    out = []
    for b, v in dirs:
        p = os.path.join(table_path, b, v)
        if not os.path.isdir(p):
            raise ValueError(
                f"snapshot {sid} expired (bucket {b} version {v} GC'd; "
                f"retention={SNAPSHOT_RETENTION})"
            )
        out.append(p)
    return out


def _changed_buckets(table_path: str, from_sid: int, to_sid: int):
    """The change plan both CDC readers (``read_table_changes`` and the
    streaming ``graph_table_changes`` source) follow, from snapshot
    metadata alone. Returns ``(a, b, grown, rewritten)``: the two
    snapshots (sid 0 = the empty table before the first commit); ``grown``
    maps each bucket whose version-dir set only grew, with unchanged
    deletes, to its sorted new dirs — their sequence numbers exceed every
    pending delete's, so none of their rows are hidden and they ship as
    inserts at file granularity; ``rewritten`` lists every other changed
    bucket (rewritten, dropped, or given new equality deletes), which needs
    a row-level diff. Untouched buckets are in neither: zero I/O."""
    def _snap(sid: int) -> dict:
        if sid == 0:
            return {"snapshot_id": 0, "buckets": {}, "schema": None}
        return _retained_snapshot(table_path, sid)

    a, b = _snap(from_sid), _snap(to_sid)
    dels_a = a.get("deletes") or {}
    dels_b = b.get("deletes") or {}
    grown: dict[str, list[str]] = {}
    rewritten: list[str] = []
    for bk in sorted(set(a["buckets"]) | set(b["buckets"])):
        da = set(a["buckets"].get(bk, []))
        db = set(b["buckets"].get(bk, []))
        same_dels = dels_a.get(bk, []) == dels_b.get(bk, [])
        if da == db and same_dels:
            continue
        if da <= db and same_dels:
            grown[bk] = sorted(db - da)
        else:
            rewritten.append(bk)
    return a, b, grown, rewritten


def table_exists(table_path: str) -> bool:
    """True when the path holds a committed snapshot (a truncated or
    zero-row table included) — exactly when ``read_graph_table`` reads."""
    return _table_state(table_path) is not None


def _evolve_schema(old_schema_json: dict | None, new_schema):
    """Iceberg-style ADD-COLUMN schema evolution: the snapshot's recorded
    schema is the old schema plus any columns the updates introduce
    (appended, nullable — old data files simply lack them and read as
    NULL). A same-name column with a DIFFERENT type raises — type changes
    are not silently coerced (Iceberg allows only safe widenings; we take
    the stricter contract)."""
    from pyspark.sql.types import StructField, StructType

    fields: list = []
    seen: dict = {}
    if old_schema_json:
        for f in StructType.fromJson(old_schema_json).fields:
            fields.append(StructField(f.name, f.dataType, True))
            seen[f.name] = f.dataType
    for f in new_schema.fields:
        if f.name in seen:
            # simpleString comparison: nested-field NULLABILITY flags vary
            # with how a plan was built and are not a semantic type change
            if f.dataType.simpleString() != seen[f.name].simpleString():
                raise ValueError(
                    f"schema evolution: column '{f.name}' type change "
                    f"{seen[f.name].simpleString()} -> "
                    f"{f.dataType.simpleString()} is not supported"
                )
        else:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


def _read_with_schema(spark: SparkSession, paths: list[str],
                      meta: dict) -> DataFrame:
    """Read data files THROUGH the snapshot's recorded schema (Iceberg
    resolves reads via table metadata, never file footers): files written
    before an ADD COLUMN lack the new column and surface it as NULL."""
    from pyspark.sql.types import StructField, StructType

    st = StructType.fromJson(meta["schema"])
    st = StructType([StructField(f.name, f.dataType, True) for f in st.fields])
    return spark.read.schema(st).parquet(*paths)


def _snapshot_scan(spark: SparkSession, table_path: str, snap: dict,
                   buckets: list[str] | None = None,
                   data_dir_filter=None, strict: bool = True,
                   schema_from: dict | None = None) -> DataFrame | None:
    """Resolve a snapshot to its visible rows — THE single read path every
    reader (live scan, time travel, CDC diff, point lookup, compaction,
    rebucket, merge survivor read) funnels through, so merge-on-read
    delete application can never be skipped by one of them.

    Merge-on-read (Iceberg format-v2): a bucket may carry equality-delete
    dirs (key-tuple parquet) alongside its data dirs, each with a commit
    sequence number. A delete at sequence S hides matching rows in data
    dirs with sequence < S only — the same commit's (or a later commit's)
    re-insert of the key stays visible. COW-only tables (no delete
    entries) take the original single multi-path scan; buckets without
    deletes are bulk-read even when sibling buckets have them.

    ``buckets`` restricts to a subset (point lookups, CDC per-bucket
    diffs); ``data_dir_filter(bucket, dir)`` skips data dirs (manifest
    bounds pruning — delete dirs are never skipped: hiding fewer rows
    than committed would resurrect deleted data); ``strict`` raises on a
    GC'd dir (time travel) instead of skipping it (live reads tolerate a
    concurrent GC). ``schema_from`` reads rows through ANOTHER snapshot's
    schema (CDC reads both sides through the TO snapshot). Returns None
    when no data dirs are referenced (caller supplies the empty frame)."""
    import os

    from functools import reduce

    bmap = snap.get("buckets", {})
    dmap = snap.get("deletes") or {}
    sel = list(bmap) if buckets is None else [b for b in buckets if b in bmap]
    read_meta = schema_from if schema_from is not None else snap

    def _dir(b: str, v: str) -> str | None:
        p = os.path.join(table_path, b, v)
        if not os.path.isdir(p):
            if strict:
                raise ValueError(
                    f"snapshot {snap.get('snapshot_id')} expired (bucket {b} "
                    f"version {v} GC'd; retention={SNAPSHOT_RETENTION})"
                )
            return None
        return p

    entries = []  # (bucket, seq, path) for data dirs
    dseq = snap.get("dir_seq") or {}
    for b in sel:
        for v in bmap[b]:
            if data_dir_filter is not None and not data_dir_filter(b, v):
                continue
            p = _dir(b, v)
            if p is not None:
                entries.append((b, int(dseq.get(f"{b}/{v}", 0)), p))
    del_entries = []  # (bucket, seq, path) for equality-delete dirs
    for b in sel:
        for item in dmap.get(b, []):
            p = _dir(b, item[0])
            if p is not None:
                del_entries.append((b, int(item[1]), p))
    if not entries:
        return None
    if not del_entries:
        return _read_with_schema(spark, [p for _, _, p in entries], read_meta)

    mor_buckets = {b for b, _, _ in del_entries}
    parts = []
    plain = [p for b, _, p in entries if b not in mor_buckets]
    if plain:
        parts.append(_read_with_schema(spark, plain, read_meta))
    by_seq: dict[int, list[str]] = {}
    for b, s, p in entries:
        if b in mor_buckets:
            by_seq.setdefault(s, []).append(p)
    if by_seq:
        tagged = None
        for s in sorted(by_seq):
            t = _read_with_schema(spark, by_seq[s], read_meta).withColumn(
                "__seq", F.lit(int(s))
            )
            tagged = t if tagged is None else tagged.unionByName(t)
        dby: dict[int, list[str]] = {}
        for _, s, p in del_entries:
            dby.setdefault(s, []).append(p)
        dels = None
        for s in sorted(dby):
            d = spark.read.parquet(*dby[s]).withColumn("__dseq", F.lit(int(s)))
            dels = d if dels is None else dels.unionByName(d)
        key_cols = [c for c in dels.columns if c != "__dseq"]
        # NULL-SAFE key equality (triples merge keys include nullable
        # columns) as the equi part; the sequence inequality is the
        # residual condition on the same anti-join
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols],
        ) & (F.col("s.__dseq") > F.col("t.__seq"))
        parts.append(
            tagged.alias("t").join(dels.alias("s"), cond, "left_anti")
            .drop("__seq")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _empty_df(spark: SparkSession, meta: dict) -> DataFrame:
    """Zero rows typed by the snapshot's recorded schema."""
    from pyspark.sql.types import StructType

    return local_frame(spark, [], StructType.fromJson(meta["schema"]))


def read_graph_table(spark: SparkSession, table_path: str,
                     snapshot: int | None = None,
                     tag: str | None = None) -> DataFrame:
    """Read a bucketed graph table at its live snapshot — resolved through
    the single version-hint → metadata chain, so a reader NEVER sees a
    half-applied merge (the commit is one os.replace) — or, with
    ``snapshot``, at that snapshot id (time travel, Iceberg ``VERSION AS
    OF``; the last SNAPSHOT_RETENTION snapshots stay readable), or with
    ``tag``, at a named ref (``tag_snapshot``; tagged snapshots never
    expire). Rows are typed by the snapshot's recorded schema, so a
    zero-row snapshot reads as an empty frame. A path with no committed
    snapshot raises ValueError."""
    if tag is not None:
        if snapshot is not None:
            raise ValueError("pass snapshot= or tag=, not both")
        refs = table_tags(table_path)
        if tag not in refs:
            raise ValueError(f"no tag {tag!r} on {table_path} "
                             f"(tags: {sorted(refs)})")
        snapshot = refs[tag]
    if snapshot is not None:
        snap = _retained_snapshot(table_path, snapshot)
        out = _snapshot_scan(spark, table_path, snap, strict=True)
        return _empty_df(spark, snap) if out is None else out

    state = _table_state(table_path)
    if state is None:
        raise ValueError(f"{table_path}: no committed snapshot to read")
    out = _snapshot_scan(spark, table_path, state, strict=False)
    return _empty_df(spark, state) if out is None else out


def read_table_changes(spark: SparkSession, table_path: str,
                       from_snapshot: int,
                       to_snapshot: int | None = None) -> DataFrame:
    """Incremental consumption (the Iceberg incremental-scan / CDC analog):
    the row-level delta between two committed snapshots, as the table's
    columns plus ``_change_type`` ('insert' | 'delete'). A downstream
    training-data pipeline tails the graph/documents tables with this
    instead of re-reading 100 TB per batch.

    Scale shape: a bucket whose version-dir set only GREW between the two
    snapshots (the append fast path's signature) contributes its NEW dirs
    as inserts at FILE granularity — no diffing, no read of the old data.
    Only buckets that were rewritten (merge-updated, deleted from, or
    compacted) pay a row-level multiset diff (exceptAll both ways), and
    only over that bucket's files. An updated row surfaces as
    delete(old image) + insert(new image).

    ``from_snapshot=0`` means "before the first commit" (everything is an
    insert). Both snapshots must still be within the retention window —
    expired metadata or GC'd dirs raise ValueError, same as time travel.
    Rows are read through the TO snapshot's schema, so a column added
    between the two snapshots reads as NULL on the old images."""
    if to_snapshot is None:
        to_snapshot = _live_sid(table_path)
    if from_snapshot > to_snapshot:
        # a reversed range would run the diff with a/b swapped and emit
        # every change with its type INVERTED — silent corruption for a
        # replica applying it; fail loudly instead (corrupt offset, manual
        # misuse).
        raise ValueError(
            f"read_table_changes: from_snapshot={from_snapshot} > "
            f"to_snapshot={to_snapshot} for {table_path}"
        )
    a, b, grown, diff_buckets = _changed_buckets(table_path, from_snapshot,
                                                 to_snapshot)
    append_paths = _retained_dirs(
        table_path, to_snapshot,
        [(bk, v) for bk, dirs in grown.items() for v in dirs])

    parts = []
    if append_paths:
        parts.append(
            _read_with_schema(spark, append_paths, b)
            .withColumn("_change_type", F.lit("insert"))
        )
    if diff_buckets:
        # both sides resolved through _snapshot_scan (equality deletes
        # applied), both read through the TO snapshot's schema
        rows_a = _snapshot_scan(spark, table_path, a, buckets=diff_buckets,
                                strict=True, schema_from=b)
        rows_b = _snapshot_scan(spark, table_path, b, buckets=diff_buckets,
                                strict=True)
        if rows_a is None:
            rows_a = local_frame(spark, [], rows_b.schema)
        if rows_b is None:
            rows_b = local_frame(spark, [], rows_a.schema)
        parts.append(
            rows_b.exceptAll(rows_a).withColumn("_change_type", F.lit("insert"))
        )
        parts.append(
            rows_a.exceptAll(rows_b).withColumn("_change_type", F.lit("delete"))
        )
    if not parts:
        if not b.get("schema"):
            raise ValueError(
                f"{table_path}: no changes between snapshots and no recorded "
                f"schema to type an empty result"
            )
        return _empty_df(spark, b).withColumn("_change_type", F.lit("insert"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lookup_by_key(spark: SparkSession, table_path: str, keys: list[str],
                  values: tuple) -> DataFrame:
    """Point lookup with BUCKET PRUNING: hash the key values to their
    bucket and read only that bucket's live version — a 1/n_buckets scan
    instead of the whole table (Iceberg partition-pruned point read). The
    bucket count and the key columns' types come from the live snapshot's
    metadata, so a re-bucketed table is looked up in its new layout. A
    path with no committed snapshot raises ValueError."""
    from functools import reduce

    from pyspark.sql.types import StructType

    if not keys or len(keys) != len(values):
        # zip() below would silently drop the extras
        raise ValueError(f"lookup_by_key: {len(keys)} key column(s) and "
                         f"{len(values)} value(s); need one value per key, "
                         f"at least one key")
    state = _table_state(table_path)
    if state is None:
        raise ValueError(f"{table_path}: no committed snapshot to look up")
    n_buckets = state["n_buckets"]
    # xxhash64 is TYPE-sensitive (int32 and int64 hash differently), so a
    # Python literal must be cast to the table column's declared type before
    # bucketing — otherwise the lookup scans the wrong bucket and silently
    # returns nothing.
    types = {f.name: f.dataType
             for f in StructType.fromJson(state["schema"]).fields}
    missing = [k for k in keys if k not in types]
    if missing:
        raise ValueError(f"{table_path}: no key column(s) {missing}")
    lits = [F.lit(v).cast(types[k]) for k, v in zip(keys, values)]
    pred = reduce(
        lambda a, c: a & c,
        [F.col(k).eqNullSafe(c) for k, c in zip(keys, lits)],
    )
    # a one-row local frame: Catalyst folds the hash on the driver, so
    # finding the bucket runs no Spark job
    b = local_frame(spark, [(0,)], "id long").select(
        *[c.alias(k) for k, c in zip(keys, lits)]
    ).select(_bucket_expr(keys, n_buckets).alias("b")).first()["b"]
    out = _snapshot_scan(spark, table_path, state, buckets=[f"bucket={b}"],
                         strict=False)
    if out is None:
        # bucket empty at this snapshot → key absent (typed hash is exact)
        out = _empty_df(spark, state)
    return out.filter(pred)


def rollback_table(table_path: str, snapshot_id: int) -> int:
    """Roll the live table back to a retained snapshot (Iceberg
    ``rollback_to_snapshot``): commits a NEW snapshot whose bucket map,
    schema and stats copy the target's — history keeps moving forward
    (snapshot ids never reuse), the bad commits stay readable for
    forensics until retention expires them, and readers flip atomically
    via the same version-hint swap as any commit. Returns the new
    snapshot id.

    The target must still be within the retention window (its metadata
    file and version dirs intact) — rolling back to an expired snapshot
    raises ValueError, same as time travel. Concurrent writers are
    handled by the usual compare-and-swap: a merge landing after the
    rollback read its state raises CommitConflictError here (offline
    maintenance op — rerun after inspecting the winner)."""
    from pyspark.sql.types import StructType

    meta = _retained_snapshot(table_path, snapshot_id)
    _retained_dirs(table_path, snapshot_id, [
        (b, v) for b, vs in meta["buckets"].items() for v in vs
    ] + [
        (b, d) for b, items in (meta.get("deletes") or {}).items()
        for d, _ in items
    ])
    return _commit_snapshot(
        table_path, meta["buckets"], meta["n_buckets"],
        StructType.fromJson(meta["schema"]),
        meta.get("stats") or {}, base_sid=_live_sid(table_path),
        dir_stats=meta.get("dir_stats") or {},
        deletes=meta.get("deletes") or {},
        dir_seq=meta.get("dir_seq") or {},
        delete_keys=meta.get("delete_keys"),
    )


def truncate_table(table_path: str) -> None:
    """Drop all rows (SURVEY §2.6 row 44) — the reference's detach-delete
    teardown (reference src/db/neo4j_handler.py:356-360), with Iceberg
    ``TRUNCATE`` semantics: a COMMITTED EMPTY SNAPSHOT (buckets={}) through
    the ordinary CAS'd commit path, never metadata deletion. That keeps
    snapshot ids monotone, which is what makes truncate safe against
    everything around it:

    - a concurrent merge's CAS genuinely fails (its base sid is no longer
      live) instead of committing a bucket map that points at deleted dirs
      — including the base_sid=0 first write, which a delete-the-metadata
      truncate could never fence;
    - a CDC consumer's checkpointed offset stays meaningful — the diff
      across the truncate is 'delete everything', not an aliased replay of
      reused snapshot ids;
    - pre-truncate snapshots stay time-travelable within retention, and
      retention GC (run here) reclaims the data dirs on the normal path.

    A directory with no committed snapshot (e.g. the staged dirs of a
    first commit that never landed) has no commit machinery to fence —
    plain removal."""
    import shutil

    from pyspark.sql.types import StructType

    state = _table_state(table_path)
    if state is None:
        shutil.rmtree(table_path, ignore_errors=True)
        return
    for _ in range(MERGE_COMMIT_RETRIES):
        try:
            _build_snapshot(table_path, state, state["n_buckets"],
                            StructType.fromJson(state["schema"]),
                            drop=list(state["buckets"]))
            return
        except CommitConflictError:
            state = _table_state(table_path)  # a merge won the race; retry
            if state is None:
                return
    raise CommitConflictError(f"truncate_table: commit contention on {table_path}")


MERGE_COMMIT_RETRIES = 3


def merge_upsert(spark: SparkSession, table_path: str, updates: DataFrame,
                 keys: list[str], n_buckets: int = DEFAULT_MERGE_BUCKETS,
                 deletes: DataFrame | None = None,
                 mode: str = "cow") -> None:
    """Idempotent keyed upsert: new rows win on key collision (MERGE INTO ...
    WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT), rewriting only the
    hash-buckets the update keys land in. ``deletes`` (key columns only) is
    the WHEN MATCHED DELETE clause — matching existing rows are dropped
    (tombstones for re-canonicalized entities). See the section comment
    above for the crash-atomicity story.

    ``mode`` picks the row-level-delete strategy, exactly Iceberg's
    ``write.merge.mode``:

    - ``"cow"`` (copy-on-write, default): buckets holding matched rows are
      rewritten without them. Reads stay single-scan; best for read-heavy
      tables and large batches.
    - ``"mor"`` (merge-on-read, Iceberg format-v2): matched buckets are NOT
      rewritten — the merge appends an equality-delete file (the batch's
      key tuples) plus the new data file, both stamped with the commit's
      sequence number; readers anti-join deletes onto older-sequence data
      files (``_snapshot_scan``). Writes are O(batch) even when every
      bucket holds matches — the update-heavy streaming-upsert path at
      100 TB. A bucket whose data or delete file count would pass
      AUTO_COMPACT_FILES folds into a copy-on-write rewrite (applying and
      clearing its deletes), so read amplification stays bounded;
      ``compact_table`` reconciles the rest.

    CONCURRENT writers are safe (Iceberg's optimistic model): each attempt
    stages against the snapshot it read, and the commit is a compare-and-
    swap on the live snapshot id — a loser never installs a bucket map that
    would drop the winner's buckets; it recomputes from the winner's
    snapshot and retries (its orphaned staged dirs fall to version GC).
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
    check_int("n_buckets", n_buckets)
    # dedup once and PERSIST: the attempt evaluates this frame 3-5 times
    # (bucket-discovery collect, matched semi-join, survivors anti-join,
    # data write, MOR delete write) — unpersisted, each evaluation re-runs
    # the caller's full upstream plan, multiplied again per conflict retry.
    # Key-dedup is table-state independent, so it caches across retries;
    # only the __bucket column (depends on the live bucket count) is
    # recomputed inside the attempt.
    dedup = updates.dropDuplicates(keys).persist()
    if deletes is not None:
        deletes = deletes.select(*keys).dropDuplicates(keys).persist()
    try:
        for attempt in range(MERGE_COMMIT_RETRIES):
            try:
                return _merge_upsert_attempt(
                    spark, table_path, dedup, keys, n_buckets, deletes, mode
                )
            except CommitConflictError:
                if attempt == MERGE_COMMIT_RETRIES - 1:
                    raise
    finally:
        dedup.unpersist()
        if deletes is not None:
            deletes.unpersist()


def _merge_upsert_attempt(spark: SparkSession, table_path: str,
                          updates: DataFrame, keys: list[str],
                          n_buckets: int = DEFAULT_MERGE_BUCKETS,
                          deletes: DataFrame | None = None,
                          mode: str = "cow") -> None:
    import os

    from functools import reduce

    state = _table_state(table_path)
    if state:
        # the table's recorded layout wins over the caller's default —
        # after rebucket_table, merges keep hashing into the NEW layout
        n_buckets = state["n_buckets"]
    prev_map: dict[str, list[str]] = dict(state["buckets"]) if state else {}

    # recorded schema = old schema + any columns this merge introduces (the
    # append fast path can land a new column without touching old files, so
    # the union must come from METADATA, not from the written frame).
    # Validated against the raw UPDATES schema, before any union: a union
    # would silently coerce a type conflict into a runtime CAST error.
    schema = _evolve_schema((state or {}).get("schema"), updates.schema)

    # `updates` and `deletes` arrive key-deduped AND persisted from
    # merge_upsert (see there); only the layout-dependent bucket column is
    # added per attempt.
    dedup = updates.withColumn("__bucket", _bucket_expr(keys, n_buckets))
    # ONE driver-blocking job answers all three head questions (any update
    # rows? any delete rows? which buckets touched?) — these were three
    # separate jobs, and at ~0.5s scheduling latency each across the 4-5
    # merges a pipeline batch runs, the pure-latency tail added seconds. A
    # first write (no snapshot) runs no head: there is nothing to match,
    # delete or leave untouched, so its deletes are void and every row
    # (none included — a zero-row table is still committed) is an append.
    src = dedup.select("__bucket", F.lit(0).alias("__src"))
    if deletes is not None:
        src = src.unionByName(
            deletes.withColumn("__bucket", _bucket_expr(keys, n_buckets))
            .select("__bucket", F.lit(1).alias("__src"))
        )
    per_src = {
        r["__src"]: set(r["bs"])
        for r in src.groupBy("__src").agg(
            F.collect_set("__bucket").alias("bs")
        ).collect()
    } if state else {}
    upd_buckets = per_src.get(0, set())
    del_buckets = per_src.get(1, set())
    if not del_buckets:
        deletes = None
    if state and deletes is None and not upd_buckets:
        return  # nothing to merge; don't churn the table (snapshot no-op)
    touched = sorted(upd_buckets | del_buckets)

    dirty: set[int] = set()
    mor: set[int] = set()  # matched buckets taking the merge-on-read path
    mor_gone = None        # their equality-delete key frame
    merged = dedup
    existing = None
    # read ONLY the touched buckets' live data files. A first write or a
    # committed zero-row table (empty or truncated snapshot) reads nothing:
    # every staged bucket lands as an append onto an empty bucket.
    if prev_map:
        # resolved through _snapshot_scan: schema-evolution-safe (reads
        # through the snapshot's recorded schema, not footer inference)
        # AND merge-on-read-safe (pending equality deletes applied — a
        # MOR-hidden row must not count as a match nor survive a
        # rewrite, or deleted rows would resurrect)
        scan = _snapshot_scan(
            spark, table_path, state,
            buckets=[f"bucket={b}" for b in touched], strict=False,
        )
        if scan is not None:
            existing = scan.withColumn("__bucket", _bucket_expr(keys, n_buckets))
    if existing is not None:
        # NULL-SAFE key equality: merge keys include nullable columns
        # (percentage / transactionDate on triples); a plain anti-join's
        # NULL != NULL would let an identical re-merged row survive and
        # duplicate — exactly the crash-replay case MERGE must absorb.
        gone = dedup.select(*keys)
        if deletes is not None:
            gone = gone.unionByName(deletes)
        gone = gone.distinct()
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        )
        # APPEND FAST PATH (the steady-state-ingest scale property): a
        # bucket none of whose existing rows matches an update/delete
        # key is CLEAN — its files stay referenced as-is and only the
        # new rows are written. Without this, every batch of
        # uniformly-hashed new keys (new doc ids!) touches every bucket
        # and copy-on-write rewrites the WHOLE table: O(history) writes
        # per batch. With it, clean buckets cost O(batch) writes; a
        # bucket accumulating > AUTO_COMPACT_FILES data files is folded
        # into the rewrite (inline compaction — amortized O(history /
        # AUTO_COMPACT_FILES), the Iceberg rewrite_data_files analog).
        matched = {
            r["__bucket"]
            for r in existing.alias("t")
            .join(gone.alias("s"), cond, "left_semi")
            .select("__bucket").distinct().collect()
        }
        if mode == "mor" and matched:
            prior_dk = state.get("delete_keys")
            if prior_dk and list(prior_dk) != list(keys):
                raise ValueError(
                    f"{table_path}: merge-on-read requires a stable key "
                    f"set per table (recorded {prior_dk}, got {keys}) — "
                    f"equality-delete files join on their own columns"
                )
            prior_dels = state.get("deletes") or {}
            # a matched bucket stays merge-on-read only while BOTH its
            # file counts stay under the cap; past it, fold into a
            # copy-on-write rewrite (applies + clears its deletes) —
            # bounded read amplification, Iceberg's compaction contract
            mor = {
                b for b in matched
                if len(prev_map.get(f"bucket={b}", [])) + 1 <= AUTO_COMPACT_FILES
                and len(prior_dels.get(f"bucket={b}", [])) + 1 <= AUTO_COMPACT_FILES
            }
        dirty |= matched - mor
        dirty |= {
            b for b in touched
            if b not in mor
            and len(prev_map.get(f"bucket={b}", [])) + 1 > AUTO_COMPACT_FILES
        }
        if mor:
            # the batch's key tuples, restricted to MOR buckets — the
            # equality-delete file content (Iceberg streaming-upsert
            # writers emit a delete for every upsert key; applying a
            # delete for an unmatched key is a no-op by construction)
            mor_gone = gone.withColumn(
                "__bucket", _bucket_expr(keys, n_buckets)
            ).filter(F.col("__bucket").isin(*[int(x) for x in mor]))
        if dirty:
            survivors = existing.alias("t").join(
                gone.alias("s"), cond, "left_anti"
            ).filter(F.col("__bucket").isin(*[int(b) for b in dirty]))
            # allowMissingColumns = ADD-COLUMN schema evolution: updates
            # may introduce columns (survivors read NULL) or omit old
            # ones (replaced rows get NULL — MERGE UPDATE SET * from a
            # narrower source); the evolved schema is recorded below
            merged = survivors.unionByName(dedup, allowMissingColumns=True)

    # co-locate each bucket in one task before the partitioned write: without
    # this, partitionBy emits one file per (shuffle-task × bucket) pair —
    # N_tasks×N_buckets small files per merge. Hash-repartitioning on
    # __bucket gives exactly one file per bucket (at real scale, pair with
    # spark.sql.files.maxRecordsPerFile to re-split oversized buckets).
    # Only dirty buckets' survivors + the new rows cross this shuffle. No
    # partition count: AQE coalesces the shuffle to the batch's bytes (a
    # small batch writes in a task or two, not n_buckets tasks), and
    # coalescing only merges whole partitions, so a bucket never splits.
    with _staging(table_path) as staging:
        merged.repartition(F.col("__bucket")).write.partitionBy(
            "__bucket"
        ).mode("overwrite").parquet(os.path.join(staging, "data"))
        if mor_gone is not None:
            # equality-delete files staged exactly like data files: one dir
            # per MOR bucket, installed as ordinary immutable version dirs
            # and only made visible by the snapshot's `deletes` map
            mor_gone.repartition(max(len(mor), 1), F.col("__bucket")).write.partitionBy(
                "__bucket"
            ).mode("overwrite").parquet(os.path.join(staging, "deletes"))
        # dirty buckets are rewritten — dropped from the map when deletes
        # emptied them (an unmapped bucket reads as empty); every other
        # staged bucket is a clean append (or a first write). One atomic
        # compare-and-swap installs the whole snapshot — a conflict raises
        # to the retry wrapper.
        staged = _staged_buckets(os.path.join(staging, "data"))
        rewrite = {f"bucket={b}": staged.pop(f"bucket={b}", []) for b in dirty}
        _build_snapshot(
            table_path, state, n_buckets, schema, replace=rewrite,
            append=staged,
            add_deletes=_staged_buckets(os.path.join(staging, "deletes")),
            delete_keys=list(keys),
        )


def rebucket_table(spark: SparkSession, table_path: str, keys: list[str],
                   new_buckets: int) -> None:
    """Re-bucket an existing table to a different bucket count — the
    operational story for growing a table past its layout (e.g. 32 buckets
    on one box → 4096 at 100 TB, keeping each bucket a few GB).

    Sizing note for streaming CDC consumers (ADVICE r3): the streaming
    `graph_table_changes` source diffs a REWRITTEN bucket by materializing
    both snapshots' resolved rows in one executor task (~2× bucket bytes of
    task memory) — rebucket a table whose buckets outgrow a few hundred MB
    BEFORE streaming CDC off it; the batch read_table_changes path has no
    such per-task bound.

    One full rewrite committed as ONE snapshot: every row re-hashed into
    the new layout, staged as fresh version dirs, then the version-hint
    swap installs the new bucket map + bucket count atomically. Readers
    mid-rebucket see the old snapshot; merges after it resolve the new
    n_buckets from table metadata (the caller's old constant is ignored);
    time travel across the boundary still reads the old layout's dirs
    until retention expires them. On Iceberg this is
    ``ALTER TABLE ... SET PARTITION SPEC (bucket(N, key))`` + a rewrite.

    Offline maintenance op: a merge committing underneath it raises
    CommitConflictError here (no auto-retry — rerun against the new
    snapshot); the CAS guarantees the rewrite never erases that merge.
    """
    check_int("new_buckets", new_buckets)
    state = _table_state(table_path)
    rows = read_graph_table(spark, table_path)
    with _staging(table_path) as staging:
        rows.withColumn("__bucket", _bucket_expr(keys, new_buckets)).repartition(
            new_buckets, F.col("__bucket")
        ).write.partitionBy("__bucket").mode("overwrite").parquet(staging)
        # the resolved full read applied any pending equality deletes, so
        # the re-bucketed table starts with a clean (delete-free) MOR state
        _build_snapshot(table_path, state, new_buckets, rows.schema,
                        drop=list(state["buckets"]),
                        replace=_staged_buckets(staging))


def compact_table(spark: SparkSession, table_path: str,
                  max_files: int = 1) -> None:
    """Rewrite every bucket holding more than ``max_files`` data files into
    a single file, committed as ONE atomic snapshot (the explicit Iceberg
    ``rewrite_data_files`` analog; merges also auto-compact a bucket when
    its file count would pass AUTO_COMPACT_FILES). Row content unchanged —
    only the file layout; time travel still reads the pre-compaction
    snapshots until retention expires them.

    Offline maintenance op: a merge committing underneath raises
    CommitConflictError (no auto-retry; rerun — content is unchanged by
    compaction, so nothing is lost by deferring)."""
    import os

    from pyspark.sql.types import StructType

    check_int("max_files", max_files, minimum=0)
    state = _table_state(table_path)
    if not state:
        return
    pending_dels = state.get("deletes") or {}
    # a bucket compacts when its data files pass the threshold OR it holds
    # merge-on-read equality-delete files — compaction is what reconciles
    # MOR state back to a single clean file (Iceberg rewrite_data_files
    # with delete-file compaction)
    todo = [
        b for b, vs in state["buckets"].items()
        if len(vs) > max_files or pending_dels.get(b)
    ]
    if not todo:
        return
    with _staging(table_path) as staging:
        # each over-full bucket is read and rewritten independently
        # (bounded: only buckets past the threshold; rows already belong
        # to their bucket)
        rewrite = {}
        for b in todo:
            # resolved read: applies the bucket's pending equality deletes
            # (which this rewrite then CLEARS) and resolves mixed-schema
            # files through the snapshot's recorded schema — footer
            # inference could drop an evolved column for the whole bucket
            rows = _snapshot_scan(spark, table_path, state, buckets=[b],
                                  strict=False)
            if rows is None:
                continue
            rewrite[b] = [os.path.join(staging, b)]
            rows.coalesce(1).write.mode("overwrite").parquet(rewrite[b][0])
        _build_snapshot(table_path, state, state["n_buckets"],
                        StructType.fromJson(state["schema"]), replace=rewrite)


def _with_zorder_key(df: DataFrame, cols: list[str],
                     bits: int = 4) -> DataFrame:
    """Add an interleaved-bit ``__zkey`` column over ``cols`` (Z-order /
    Morton curve — the Iceberg ``rewrite_data_files`` Z-order strategy and
    Delta ``OPTIMIZE ZORDER BY`` analog).

    Per column: quantile split points (``2**bits`` ranks, approxQuantile
    with 1% relative error — rank-based, so skewed distributions still
    spread across ranks) map each value to a ``bits``-wide integer id;
    the ids' bits are then interleaved (bit b of column i lands at
    position ``b*ncols + i``), so rows close in EVERY dimension get close
    keys. Range-splitting on ``__zkey`` therefore makes each output
    chunk cover a tight hyper-rectangle: footer [min,max] bounds are
    tight on ALL clustered columns at once, and
    ``read_graph_table_pruned`` can skip dirs for a predicate on ANY of
    them — what a lexicographic sort order only gives the leading column.

    Supported column types: numeric, decimal, date, timestamp,
    timestamp_ntz (quantiles need a numeric proxy). NULLs sort into rank
    0 (absent footer bounds degrade to read-and-filter, never wrong
    results). All expression work is built-in Catalyst (aggregate over a
    broadcast literal array + shift/mask) — no UDF, shuffle-free."""
    from functools import reduce

    if bits * len(cols) > 63:
        # interleaved key must fit a signed 64-bit long: position
        # bits*ncols-1 may not reach the sign bit (Java shift wraps mod 64)
        raise ValueError(
            f"zorder_bits={bits} over {len(cols)} columns needs "
            f"{bits * len(cols)} key bits; the interleaved key is a BIGINT "
            f"so bits*ncols must be <= 63 — lower zorder_bits"
        )
    if "__zkey" in df.columns:
        raise ValueError(
            "table already has a column named '__zkey' — the z-order "
            "rewrite would overwrite and then drop it; rename the column"
        )
    n = 1 << bits
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    proxies = []
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if dt in ("date", "timestamp", "timestamp_ntz"):
            proxy = F.col(c).cast("timestamp").cast("double")
        elif dt in numeric or dt.startswith("decimal"):
            proxy = F.col(c).cast("double")
        else:
            raise ValueError(
                f"z-order needs numeric/date/timestamp columns; {c!r} is "
                f"{dt} — use lexicographic cluster_table for strings"
            )
        proxies.append(proxy)
    probs = [j / n for j in range(1, n)]
    pdf = df.select(*[p.alias(f"__z{i}") for i, p in enumerate(proxies)])
    all_splits = pdf.stat.approxQuantile(
        [f"__z{i}" for i in range(len(cols))], probs, 0.01
    )
    ids = []
    for proxy, splits in zip(proxies, all_splits):
        splits = sorted(set(splits))  # dedup ties: id stays < 2**bits
        if splits:
            idx = F.aggregate(
                F.array(*[F.lit(s) for s in splits]), F.lit(0),
                lambda acc, s: acc + F.when(proxy > s, 1).otherwise(0),
            )
        else:
            idx = F.lit(0)  # empty/all-null column: every row rank 0
        # bigint BEFORE shifting: with int ranks, Java shiftleft is mod 32
        # and positions >= 31 would wrap / hit the sign bit (ADVICE r4)
        ids.append(idx.cast("bigint"))
    ncols = len(cols)
    zbits = [
        F.shiftleft(F.shiftright(idx, b).bitwiseAND(F.lit(1)), b * ncols + i)
        for i, idx in enumerate(ids) for b in range(bits)
    ]
    return df.withColumn("__zkey", reduce(lambda a, b: a + b, zbits))


def cluster_table(spark: SparkSession, table_path: str,
                  sort_by: str | list[str],
                  files_per_bucket: int = 4,
                  zorder: bool = False,
                  zorder_bits: int = 4) -> None:
    """Sort-order clustering: rewrite every bucket's rows range-split on
    ``sort_by`` (a column, or a list for a composite lexicographic sort
    order) into up to ``files_per_bucket`` single-file version dirs, each
    sorted within itself — the Iceberg ``rewrite_data_files`` with a
    sort order. Buckets still hash on the MERGE keys (point lookups keep
    pruning); what changes is that each new dir covers a NARROW ``sort_by``
    range, so its recorded footer [min, max] bounds are tight and
    ``read_graph_table_pruned`` range scans skip whole dirs instead of
    reading everything (with a composite order, bounds on the LEADING
    column stay tight; trailing columns prune within leading-column ties —
    the same leading-column caveat as any lexicographic sort order). Row
    content is unchanged; pending merge-on-read deletes are folded away by
    the rewrite (same resolved read as compaction); time travel keeps the
    pre-cluster snapshots until retention expires them.

    ``zorder=True`` switches the range-split key to an interleaved-bit
    Morton key over ``sort_by`` (see ``_with_zorder_key``): chunks become
    tight hyper-rectangles instead of tight leading-column stripes, so
    range scans prune on ANY clustered column — multi-dimensional file
    skipping, the Iceberg Z-order rewrite strategy. Quantile ranks are
    computed per bucket (tighter than table-global, and each bucket is
    already rewritten independently). Numeric/date/timestamp columns only.

    Offline maintenance op, CAS-committed like ``compact_table``: a merge
    landing underneath raises CommitConflictError — rerun (content is
    unchanged by clustering, nothing is lost by deferring)."""
    import os

    from pyspark.sql.types import StructType

    check_int("files_per_bucket", files_per_bucket)
    state = _table_state(table_path)
    if not state:
        return
    sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
    if not sort_cols:
        raise ValueError("cluster_table needs at least one sort column")
    schema_cols = {f["name"] for f in state["schema"]["fields"]}
    for c in sort_cols:
        if c not in schema_cols:
            raise ValueError(f"cluster column {c!r} not in table schema")
    k = files_per_bucket
    with _staging(table_path) as staging:
        # every bucket is rewritten (an unreadable one is dropped); each
        # range chunk becomes its own single-file dir, so its footer
        # bounds cover one narrow range — empty chunks (fewer distinct
        # values than k) are never installed
        rewrite: dict[str, list[str]] = {}
        for b in state["buckets"]:
            rewrite[b] = []
            # resolved read: folds the bucket's pending equality deletes and
            # reads mixed-schema files through the snapshot schema
            rows = _snapshot_scan(spark, table_path, state, buckets=[b],
                                  strict=False)
            if rows is None:
                continue
            out = os.path.join(staging, b)
            if zorder:
                # the z-order path reads the bucket twice (approxQuantile in
                # _with_zorder_key, then the rewrite) — persist around the
                # pair so the resolved scan runs once, and release
                # it on every exit, the key guards' ValueError included
                cached = rows.persist()
                try:
                    (_with_zorder_key(cached, sort_cols, zorder_bits)
                     .repartitionByRange(k, F.col("__zkey"))
                     .sortWithinPartitions("__zkey")
                     .drop("__zkey")
                     .write.mode("overwrite").parquet(out))
                finally:
                    cached.unpersist()
            else:
                rows.repartitionByRange(
                    k, *[F.col(c) for c in sort_cols]
                ).sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(out)
            parts = sorted(
                f for f in os.listdir(out)
                if f.endswith(".parquet") and
                os.path.getsize(os.path.join(out, f)) > 0 and
                not f.startswith(("_", "."))
            )
            for i, p in enumerate(parts):
                sub = os.path.join(staging, f"{b}__chunk{i}")
                os.makedirs(sub)
                os.rename(os.path.join(out, p), os.path.join(sub, p))
                rewrite[b].append(sub)
        _build_snapshot(table_path, state, state["n_buckets"],
                        StructType.fromJson(state["schema"]), replace=rewrite)
