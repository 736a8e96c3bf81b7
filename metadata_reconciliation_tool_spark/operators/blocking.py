"""Multi-pass blocking — the set-oriented rebuild of J3, the heart of the
reference (SURVEY.md §2.3).

The reference retrieves candidates per entity via live HTTP (API pass then
SPARQL fallback, union + dedup across passes —
wikidata_cultural_client.py:324-406, dedup at :382). Here the authority is a
broadcast dictionary and the passes are key-generation projections +
equi-joins:

- pass A  prefix: substring(token_sort(norm_name), 1, 6) — catches case /
          whitespace / punctuation / token-reorder variants exactly.
- pass B  MinHash-LSH bands over 3-char shingles of the token-sorted name
          (32 perms × 16 bands × 2 rows) — catches typos / respellings that
          move the prefix.
- pass C  phonetic: metaphone of the longest token (surname-ish) — catches
          initials + phonetic respellings.

Union of passes ≙ the reference's API ∪ SPARQL union; first-wins dedup by
pass priority ≙ its anti-join J4, done on every path as a row-local filter
(:func:`_winner_filter`; :func:`dedup_pairs` is its aggregate spec). Skew:
Zipfian keys (common surnames) are capped on the entity↔entity side —
blocks above ``max_block_size`` are dropped from that pass (counted in
metrics; other passes still cover the pairs) — plus AQE skew-join handles
residual imbalance at runtime.

Entity↔entity pairs come from ONE body, :func:`_entity_pairs`, for both run
shapes: the full run pairs the corpus with itself (:func:`self_candidates`);
an incremental run semi-joins the corpus to the blocks the new batch emits
and pairs it with the batch (:func:`asymmetric_candidates`) — exactly the
full run's pairs that touch the batch, at batch-scaled cost.

At 10^12 turns: the dictionary side is broadcast (no shuffle); the
entity↔entity self-join shuffles once per pass on the block key, which is
the minimal shuffle any blocking scheme needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import token_sort
from ..functions.similarity import LSH_BANDS, lsh_keys_sigs_udf, surname_key_udf

PASS_PRIORITY = {"prefix": 1, "metaphone": 2, "lsh": 3}
PREFIX_LEN = 6
# dictionary rows (pre-explosion) at or below which the exploded key frame
# is broadcast instead of shuffle-joined — see dictionary_candidates
DICT_BROADCAST_MAX_ROWS = 2_000_000
# entity-frame size at or below which the broadcast dictionary join
# hash-repartitions its key frame for even pair-task sizes (see
# dictionary_candidates) — a frame this small shuffles in noise time,
# and only small-but-pair-dense tables exhibit the straggler shape
REPARTITION_MAX_ENTITY_ROWS = 50_000_000
# pass keys emitted per entity row: 1 prefix + 1 metaphone + LSH_BANDS lsh
# bands — the sound upper bound on distinct block keys used by the
# salt-map broadcast gates below (round-4 verdict item 1: the former
# UNCONDITIONAL F.broadcast of the per-block salt map is one row per
# distinct surviving block key, which scales with the distinct-entity
# universe — a multi-GB broadcast build at 10⁹ entities)
KEYS_PER_ENTITY = 2 + LSH_BANDS


def _key_frames_small(
    source_rows_df: DataFrame, known_rows: int | None, broadcast_max_rows: int
) -> bool:
    """Gate for broadcasting key-derived frames (the per-block salt map,
    the batch's block-key list): each has at most ``KEYS_PER_ENTITY ×
    rows(source)`` rows, so the source row count bounds them all. At or
    below the gate the broadcast hints stay (the big exploded-key frame
    never shuffles for those joins); above it, NO hint — a plain equi-join
    that AQE still converts to broadcast when runtime stats allow, and that
    degrades to a shuffle join instead of an executor OOM when they don't.

    ``known_rows`` skips the probe when the caller already knows the source
    row count; otherwise a BOUNDED ``limit(gate+1).count()`` probe (the scan
    stops at the gate — never a full pass over a 10⁹-row table)."""
    gate_rows = max(broadcast_max_rows // KEYS_PER_ENTITY, 1)
    if known_rows is None:
        known_rows = source_rows_df.limit(gate_rows + 1).count()
    return known_rows <= gate_rows


def dict_broadcast_gate(
    dictionary: DataFrame,
    broadcast_max_rows: int = DICT_BROADCAST_MAX_ROWS,
    cache: dict[int, bool] | None = None,
) -> bool:
    """THE dictionary broadcast gate, for blocking and best-match in both
    the full and the incremental run (round-2 verdict: an unconditional
    broadcast would OOM every executor on a 10⁸-row authority dictionary).
    A BOUNDED probe — ``limit(max+1).count()`` stops scanning at max+1
    rows — says whether the dictionary has at most ``broadcast_max_rows``
    rows. ``cache`` keeps verdicts per dictionary plan (``semanticHash``):
    a stable dictionary pays one probe per owner, and a changed, possibly
    larger one re-probes instead of reusing a stale verdict (ADVICE r4
    low). Callers probe the raw or the prepared dictionary alike: the A3
    dedup only drops rows, and the gate is an order-of-magnitude safety
    bound, not an exact budget."""
    cache = {} if cache is None else cache
    key = dictionary.semanticHash()
    if key not in cache:
        cache[key] = (
            dictionary.limit(broadcast_max_rows + 1).count() <= broadcast_max_rows
        )
    return cache[key]


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


def add_block_keys(
    df: DataFrame, name_col: str = "norm_name", type_col: str = "entity_type"
) -> DataFrame:
    """Project the three pass keys. One narrow select — no shuffle.

    Keys are entity_type-scoped (P5 parity: the reference dispatches
    candidate retrieval by type and keyword-filters cross-type hits,
    wikidata_cultural_client.py:337-343) — a person never blocks with a
    place, which also shrinks the hottest blocks.
    """
    sorted_name = token_sort(F.col(name_col))
    t = F.col(type_col)
    return (
        df.withColumn("_token_sorted", sorted_name)
        # distinct-token array computed ONCE PER ENTITY ROW and carried
        # through the pair join (round 6, measured): scoring derived it
        # per PAIR (split + array_remove + array_distinct × 2 sides ×
        # 34M pairs ≈ 11 s of the sf0.1 local[8] scoring wall); the join
        # inputs are entity×key scale (~20× smaller), so precomputing
        # here trades a few bytes of join-input width for the whole
        # per-pair array-construction bill
        .withColumn(
            "_toks",
            F.array_distinct(
                F.array_remove(F.split(F.col("_token_sorted"), " "), "")
            ),
        )
        .withColumn(
            "block_prefix",
            F.concat_ws(":", t, F.substring(F.col("_token_sorted"), 1, PREFIX_LEN)),
        )
        .withColumn("_mp", surname_key_udf(F.col(name_col)))
        .withColumn(
            "block_metaphone",
            F.when(F.col("_mp") != "", F.concat_ws(":", t, F.col("_mp"))).otherwise(
                F.lit("")
            ),
        )
        .drop("_mp")
        .withColumn("_ks", lsh_keys_sigs_udf(F.col("_token_sorted")))
        .withColumn(
            "block_lsh",
            F.transform(
                F.col("_ks.keys"),
                lambda k: F.concat_ws(":", t, k),
            ),
        )
        # band signatures: sigs[i] is a bijection of the hash inside
        # block_lsh[i] (same md5 bytes) — the winner filter compares these
        # 8-byte longs positionwise instead of the typed key strings
        .withColumn("block_sig", F.col("_ks.sigs"))
        .drop("_ks")
    )


# Band indices in the lexicographic order of their key strings: every
# shared key between a pair carries the pair's common '<type>:' prefix, so
# min over shared lsh keys '<type>:<band>:<hash>' is decided ENTIRELY by
# the band-digit region ('0:' < '10:' < … < '15:' < '1:' < '2:' < …; the
# hash is reached only for the SAME band, where the keys are identical).
# The winner band is therefore the first shared band in this fixed order.
_LSH_RANK = sorted(range(LSH_BANDS), key=lambda b: f"{b}:")


def _winner_filter(joined: DataFrame, with_alive: bool = False) -> DataFrame:
    """First-wins cross-pass dedup as a LOCAL filter — zero shuffle, zero
    sort, ~ns per row (round 6; guide §2.4 'remove shuffles outright').

    ``dedup_pairs`` aggregates the full pair stream by (left, right) to
    pick min('<prio>|<pass>|<key>') — and min over a STRING buffer is not
    hash-aggregable, so the ~2.4×-duplicated pre-dedup stream (84M rows at
    the sf0.1 bench) paid a SortAggregate sort plus an exchange on the
    self path. But the winner is decidable PER ROW:

    - a pair's candidate keys are exactly the keys BOTH sides emit (a key
      matches only its own pass/band, and both sides of any pair share an
      entity type, so band keys are equal iff their 8-byte signatures are);
    - pass priority makes prefix > metaphone > lsh, and among shared lsh
      bands the winner is the first in ``_LSH_RANK`` (see above);
    - so a row survives iff no strictly-better shared key exists and, for
      lsh rows, its own band (``key_idx − 2``) is the first shared band.

    A first try ranked min over ``array_intersect`` of winner-encoded
    string arrays — measured ~5 µs/row (string hash-set build per row,
    ~15 s of bench wall across both paths); this cascade is two short
    string equalities plus ≤16 long compares, evaluated lazily.

    ``with_alive=True`` (the capped entity path): each side carries an
    ``_alive`` bitmask of its keys that SURVIVED the block-size cap
    (bit = key_idx); a shared key only outranks this row if it also
    survived — exactly the aggregate's behavior over surviving rows. The
    cap-free dictionary path passes no mask (every shared key emitted).
    Expected columns: key_idx, plus per-side _l_bp/_l_bm/_l_sig (and
    _l_alive) and the _r_* twins."""

    def alive(i: int):
        return (
            (F.col("_l_alive").bitwiseAND(F.lit(1 << i)) != 0)
            if with_alive
            else F.lit(True)
        )

    prefix_shared = (
        (F.col("_l_bp") == F.col("_r_bp")) & (F.col("_l_bp") != "") & alive(0)
    )
    metaphone_shared = (
        (F.col("_l_bm") == F.col("_r_bm")) & (F.col("_l_bm") != "") & alive(1)
    )
    first_lsh_idx = F.coalesce(
        *[
            F.when(
                (F.col("_l_sig").getItem(b) == F.col("_r_sig").getItem(b))
                & alive(2 + b),
                F.lit(2 + b),
            )
            for b in _LSH_RANK
        ]
    )
    keep = (
        F.when(F.col("key_idx") == 0, F.lit(True))
        .when(F.col("key_idx") == 1, ~prefix_shared)
        .otherwise(
            (~prefix_shared)
            & (~metaphone_shared)
            & (F.col("key_idx") == first_lsh_idx)
        )
    )
    return joined.filter(keep)


def _pass_keys(
    keyed: DataFrame,
    id_col: str,
    payload: dict[str, str] | None = None,
) -> DataFrame:
    """One (id, block_pass, block_key, *payload) frame for all three passes
    — a single explode instead of three separate branches keeps the
    downstream work to ONE aggregate and ONE join (per-job fixed costs
    matter: the pipeline's stage count is the latency floor on small
    inputs and the scheduler load at 10^12 rows).

    ``payload`` maps output alias → source column name (or a Column
    expression); carrying the normalized names (and the dictionary
    description) THROUGH the block/pair shuffle removes the two pair-level
    name-attachment joins the scorer would otherwise need — at 10^12 pairs
    that is two full shuffles of the pair table traded for slightly wider
    blocking rows."""
    payload = payload or {}
    passes = F.array(
        F.struct(
            F.lit("prefix").alias("block_pass"),
            F.col("block_prefix").alias("block_key"),
            F.lit(0).alias("key_idx"),
        ),
        F.struct(
            F.lit("metaphone").alias("block_pass"),
            F.col("block_metaphone").alias("block_key"),
            F.lit(1).alias("key_idx"),
        ),
    )
    lsh = F.transform(
        F.col("block_lsh"),
        lambda k, i: F.struct(
            F.lit("lsh").alias("block_pass"),
            k.alias("block_key"),
            (i + 2).alias("key_idx"),
        ),
    )
    # key_idx: 0=prefix, 1=metaphone, 2+band=lsh — the winner filter's
    # cascade ranks by it, and the capped entity path packs survival bits
    # at these positions
    return (
        keyed.select(
            F.col(id_col).alias("id"),
            *[
                (F.col(src_) if isinstance(src_, str) else src_).alias(dst)
                for dst, src_ in payload.items()
            ],
            F.explode(F.concat(passes, lsh)).alias("p"),
        )
        .select("id", *payload.keys(), "p.block_pass", "p.block_key", "p.key_idx")
        .filter(F.col("block_key") != "")
    )


def dictionary_candidates(
    entities_keyed: DataFrame,
    dictionary_keyed: DataFrame,
    broadcast_max_rows: int = DICT_BROADCAST_MAX_ROWS,
    broadcast: bool | None = None,
    shuffle_salts: int = 16,
    entity_rows: int | None = None,
) -> DataFrame:
    """Entity ↔ authority-dictionary candidate pairs (J3).

    Join strategy is size-gated (round-2 verdict: the unconditional
    broadcast would OOM every executor on a realistically-sized authority
    dictionary — Wikidata labels ≈ 10⁸ rows × ~18 exploded pass keys):

    - ``broadcast=None`` (auto): :func:`dict_broadcast_gate` decides —
      at or below ``broadcast_max_rows`` rows (pre-explosion) the exploded
      key frame is broadcast and the 10^12-row entity side never shuffles;
      above it, a shuffle hash join on (block_pass, block_key).
    - The shuffle path salts AGAINST skew with the same
      split-one-side / replicate-the-other contract as the entity↔entity
      body (:func:`_entity_pairs`): the (huge) entity side is SPLIT by
      ``salt = hash(entity_key) % shuffle_salts`` — a hot block (a common
      surname metaphone) lands in ``shuffle_salts`` shuffle groups instead
      of one straggler — and the dictionary side is REPLICATED to all salts. A fixed salt count is
      deliberate here (vs the per-block sizing of self_candidates): sizing
      would cost a full aggregate over the exploded entity keys plus a
      non-broadcastable per-block map join, while replicating the smaller
      dictionary ×16 is bounded (10⁸×16 rows shuffled vs 10^12 entity
      rows) and AQE skew-join handles residual imbalance. Each pair is
      produced exactly once: the entity row's salt picks the bucket.

    One join covers all three passes. Returns (left_key=entity_key,
    right_key=auth_id, block_pass, block_key, payload…); pair output is
    identical under either strategy (parity-tested with broadcast forced
    off).
    """
    e = _pass_keys(
        entities_keyed,
        "entity_key",
        {
            "left_name": "norm_name",
            "left_sorted": "_token_sorted",
            "left_toks": "_toks",
            # this side's pass keys in compact form (prefix/metaphone
            # strings + 8-byte band signatures) — the local dedup filter
            # below picks the best shared key without any pair-level
            # aggregate (no block cap on this path, so a pair row exists
            # for every shared key)
            "_l_bp": "block_prefix",
            "_l_bm": "block_metaphone",
            "_l_sig": "block_sig",
        },
    ).withColumnRenamed("id", "left_key")
    # multi-source dictionaries (Wikidata ∪ VIAF ∪ Getty) carry their source
    # metadata through the pair shuffle so scoring can apply F9/F10 boosts
    # without a pair-level re-join (reconciliation_engine.py:388-437)
    # NOTE: the raw ``label`` deliberately does NOT ride the pair shuffle.
    # Round 4 first shipped it as a payload column (to kill the best-match
    # broadcast) and measured the cost: ~+100 cpu·s at 34M pairs — an extra
    # string through the explode, the pair shuffle, the dedup min-agg and
    # the stage write, ALL scaled by pair count. Best-match instead attaches
    # the label with a size-gated join over n_entities rows
    # (plans/pipeline.py:best_matches) — pairs ≫ entities at every scale.
    right_payload = {
        "right_name": "norm_label",
        "right_description": "description",
        "right_sorted": "_token_sorted",
        "right_toks": "_toks",
        "_r_bp": "block_prefix",
        "_r_bm": "block_metaphone",
        "_r_sig": "block_sig",
    }
    source_cols = [
        c for c in ("source", "n_sources", "term_type") if c in dictionary_keyed.columns
    ]
    for c in source_cols:
        right_payload[f"right_{c}"] = c
    # key_idx is a function of (block_pass, block_key): the entity side's
    # copy is the one the winner filter reads
    d = (
        _pass_keys(dictionary_keyed, "auth_id", right_payload)
        .withColumnRenamed("id", "right_key")
        .drop("key_idx")
    )
    out_cols = [
        "left_key", "right_key", "block_pass", "block_key",
        "left_name", "right_name", "right_description",
        "left_sorted", "right_sorted", "left_toks", "right_toks",
        *[f"right_{c}" for c in source_cols],
    ]
    if broadcast is None:
        broadcast = dict_broadcast_gate(dictionary_keyed, broadcast_max_rows)
    if broadcast:
        # BALANCE the broadcast join's input (round 5, measured): with no
        # shuffle on this path, the pair stream inherits the entity scan's
        # partitioning — and a small-but-pair-dense entity table (a few
        # coalesced stage files) hands one task ~2.5× the mean pair
        # count, a straggler tail the scoring UDF stage serializes on
        # (measured: 11 tasks, max/mean 1.89 at sf0.1 local[8]). An
        # explicit-count hash repartition of the KEY frame (O(keys),
        # never O(pairs); the explicit count keeps AQE from re-coalescing
        # it) restores even task sizes. Gated on the ENTITY ROW COUNT —
        # static partition-count probes lie under AQE runtime coalescing
        # (measured) — because the failure mode is exactly the small-
        # table-dense-pairs shape: at or below the gate the extra shuffle
        # is trivially cheap; above it, byte-based file splits are
        # already even and the entity side keeps its never-shuffled
        # contract. ``entity_rows`` is the caller's observed stage count
        # (ReconPipeline passes the count it already observes on the
        # distinct stage write); when the size is UNKNOWN the balance is
        # skipped outright — never add a possibly-10⁹-row shuffle, or a
        # probe job that re-evaluates a lazy batch plan, on a guess. The
        # per-batch incremental path skips it by design: batch pair
        # streams are seconds of work, below straggler-tail relevance.
        if entity_rows is not None and entity_rows <= REPARTITION_MAX_ENTITY_ROWS:
            # 2× the core count, floored at the session's shuffle
            # partitioning (round 6, measured): at exactly one task per
            # core the pair-dense join stage runs as ONE wave, so a single
            # slowed core (shared-host interference, a straggling task)
            # delays the whole stage; two waves of half-size tasks bound
            # the damage to half a wave — median 27.7 → 22.2 s across 11
            # interleaved reps at load 26–42, equal best-case on a quiet
            # host. On a cluster defaultParallelism is the total executor
            # core count, so 2× it can exceed shuffle.partitions and then
            # sets the task count here as well.
            sc = e.sparkSession.sparkContext
            nparts = max(
                int(e.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                2 * sc.defaultParallelism,
            )
            e = e.repartition(nparts, "left_key")
        joined = e.join(F.broadcast(d), ["block_pass", "block_key"])
    else:
        salted_e = e.withColumn(
            "_salt", F.pmod(F.xxhash64("left_key"), F.lit(shuffle_salts)).cast("int")
        )
        replicated_d = d.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(shuffle_salts - 1)))
        )
        joined = salted_e.join(replicated_d, ["block_pass", "block_key", "_salt"])
    # first-wins dedup as a row-local filter (round 6): the former
    # dedup_pairs aggregate sorted the ~2.5×-duplicated pre-dedup stream
    # (SortAggregate — min over a string buffer is not hash-aggregable);
    # the winner is decidable per row from the two sides' key arrays.
    # Output is identical (parity-tested against dedup_pairs).
    return _winner_filter(joined).select(*out_cols)


def _entity_pairs(
    corpus_keyed: DataFrame,
    probe_keyed: DataFrame | None,
    max_block_size: int,
    rows_per_salt: int,
    max_salts: int,
    broadcast_max_rows: int,
    probe_rows: int | None,
) -> tuple[DataFrame, DataFrame]:
    """The one entity↔entity candidate body behind :func:`self_candidates`
    (``probe_keyed=None``: the corpus is its own probe) and
    :func:`asymmetric_candidates` (``probe_keyed`` = the batch, a subset of
    the corpus).

    - **Batch restriction.** With a probe batch, the corpus is first
      semi-joined to the blocks the batch emits (a data-induced predicate
      pushed into the join), so sizing, salting and pairing all happen
      inside the touched blocks; per-batch cost scales with the batch.
      A touched block holds every corpus row with that key, so its size —
      and the cap verdict — equal the full run's.
    - **Skew.** A block of n rows gets s = ceil(n / rows_per_salt) salts
      (≤ max_salts). The corpus side takes salt = hash(id) % s and the
      probe side is replicated across all s salts; the join key is
      (pass, key, salt), so each (corpus, probe) row pair meets exactly
      once, in the corpus row's salt bucket, and a hot block's work spreads
      over s shuffle partitions. Blocks above ``max_block_size`` are
      dropped from that pass and reported.
    - **One probe flag.** Every corpus row carries ``_probe`` (is it in
      the batch); the probe side is the flagged rows. A (corpus, probe)
      row pair is kept iff left_key < right_key or the corpus row is not
      in the batch: a batch↔batch pair meets in both orientations and
      keeps one, a corpus↔batch pair meets once and keeps it. Without a
      batch every row is a probe, so the flag is left out and the
      predicate is plain left_key < right_key.
    - **Dedup.** Pairs that share several surviving keys are collapsed by
      the row-local :func:`_winner_filter` over the per-entity survival
      bitmask; no pair-level aggregate. Batch pairs are then oriented
      left_key < right_key, payloads swapped with the keys.

    Every broadcast hint here is on a probe-key-derived frame and is
    SIZE-GATED on the probe row count (``probe_rows`` if the caller knows
    it, else a bounded probe — round-4 verdict item 1: the per-block salt
    map scales with the entity universe). Over the gate the joins run
    unhinted; AQE still broadcasts when runtime stats allow."""
    batch = probe_keyed is not None
    f = _pass_keys(
        corpus_keyed,
        "entity_key",
        {
            "nm": "norm_name",
            "srt": "_token_sorted",
            "tk": "_toks",
            "_bp": "block_prefix",
            "_bm": "block_metaphone",
            "_sig": "block_sig",
        },
    )
    small = _key_frames_small(
        probe_keyed if batch else corpus_keyed, probe_rows, broadcast_max_rows
    )
    if batch:
        emitted = (
            _pass_keys(probe_keyed, "entity_key")
            .select("block_pass", "block_key")
            .distinct()
        )
        f = f.join(
            _maybe_broadcast(emitted, small), ["block_pass", "block_key"], "left_semi"
        )
    sizes = f.groupBy("block_pass", "block_key").agg(F.count("*").alias("block_n"))
    dropped = sizes.filter(F.col("block_n") > max_block_size).select(
        "block_pass", "block_key", "block_n"
    )
    ok = sizes.filter(F.col("block_n") <= max_block_size).withColumn(
        "n_salts",
        F.least(
            F.ceil(F.col("block_n") / F.lit(rows_per_salt)), F.lit(max_salts)
        ).cast("int"),
    )
    # inner join against the surviving-block list both applies the cap and
    # attaches n_salts
    fk = f.join(
        _maybe_broadcast(ok.select("block_pass", "block_key", "n_salts"), small),
        ["block_pass", "block_key"],
    )
    # per-entity SURVIVAL BITMASK (dropped keys are absent from fk by
    # construction): bit ``key_idx`` set iff that key survived the cap, so
    # the winner filter ranks only keys that actually emitted rows. One
    # entity-level aggregate + an 8-byte attach join replaces the
    # pair-level SortAggregate dedup that sorted and re-shuffled the
    # ~2.4×-duplicated pair stream.
    surv = fk.groupBy("id").agg(
        F.bit_or(F.expr("shiftleft(1L, key_idx)")).alias("_alive")
    )
    if batch:
        probe_ids = probe_keyed.select(
            F.col("entity_key").alias("id"), F.lit(True).alias("_probe")
        )
        surv = surv.join(
            _maybe_broadcast(probe_ids, small), "id", "left"
        ).fillna(False, ["_probe"])
    # MATERIALIZE the keyed frame once (round 6, measured at local[8]:
    # end-to-end 72.9 → 60.6 s): the lazy fk subtree — whose f branch
    # carries the two per-entity pandas UDFs and the key explode — is
    # referenced by surv, the corpus side AND the probe side, so the
    # un-materialized plan recomputed it three times per run and the
    # optimizer re-planned all three embedded copies (driver planning
    # 2.3 → 0.26 s). The frame is entity-key-scale (rows × ~18 keys), far
    # below pair scale; the checkpoint mode trade is
    # functions/persist.materialize's. In batch mode surv holds one row per
    # corpus entity in a touched block — not bounded by the probe gate —
    # so its attach runs unhinted there.
    from ..functions.persist import materialize

    fk = materialize(fk.join(_maybe_broadcast(surv, small and not batch), "id"))
    corpus = fk.select(
        "block_pass",
        "block_key",
        "key_idx",
        F.pmod(F.xxhash64("id"), F.col("n_salts")).cast("int").alias("salt"),
        F.col("id").alias("left_key"),
        F.col("nm").alias("left_name"),
        F.col("srt").alias("left_sorted"),
        F.col("tk").alias("left_toks"),
        F.col("_bp").alias("_l_bp"),
        F.col("_bm").alias("_l_bm"),
        F.col("_sig").alias("_l_sig"),
        F.col("_alive").alias("_l_alive"),
        *([F.col("_probe").alias("_l_probe")] if batch else []),
    )
    replicated = (fk.filter(F.col("_probe")) if batch else fk).select(
        "block_pass",
        "block_key",
        F.explode(F.sequence(F.lit(0), F.col("n_salts") - 1)).alias("salt"),
        F.col("id").alias("right_key"),
        F.col("nm").alias("right_name"),
        F.col("srt").alias("right_sorted"),
        F.col("tk").alias("right_toks"),
        F.col("_bp").alias("_r_bp"),
        F.col("_bm").alias("_r_bm"),
        F.col("_sig").alias("_r_sig"),
    )
    keep = F.col("left_key") < F.col("right_key")
    if batch:
        keep = keep | ~F.col("_l_probe")
    pairs = _winner_filter(
        corpus.join(replicated, ["block_pass", "block_key", "salt"]).filter(keep),
        with_alive=True,
    )
    if batch:
        # a corpus row outside the batch may sort after its probe partner:
        # orient every pair left_key < right_key, payloads with the keys
        flip = F.col("left_key") > F.col("right_key")

        def side(this: str, other: str) -> list:
            return [
                F.when(flip, F.col(f"{other}_{c}"))
                .otherwise(F.col(f"{this}_{c}"))
                .alias(f"{this}_{c}")
                for c in ("key", "name", "sorted", "toks")
            ]

        pairs = pairs.select(
            "block_pass", "block_key", *side("left", "right"), *side("right", "left")
        )
    return (
        pairs.select(
            "left_key", "right_key", "block_pass", "block_key",
            "left_name", "right_name",
            F.lit(None).cast("string").alias("right_description"),
            "left_sorted", "right_sorted", "left_toks", "right_toks",
        ),
        dropped,
    )


def self_candidates(
    entities_keyed: DataFrame,
    max_block_size: int = 1000,
    rows_per_salt: int = 256,
    max_salts: int = 32,
    broadcast_max_rows: int = DICT_BROADCAST_MAX_ROWS,
    entity_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Entity ↔ entity candidate pairs within shared blocks (feeds J7
    clustering — the reference never compares entity↔entity; the north rule
    mandates it). The full-run shape of :func:`_entity_pairs`: every entity
    is both corpus and probe; ``entity_rows`` is the caller-known row count
    for the broadcast gates.

    Returns (pairs, dropped_blocks_metrics); pairs are left_key < right_key
    and first-wins deduped across passes."""
    return _entity_pairs(
        entities_keyed, None, max_block_size, rows_per_salt, max_salts,
        broadcast_max_rows, entity_rows,
    )


def asymmetric_candidates(
    new_keyed: DataFrame,
    all_keyed: DataFrame,
    max_block_size: int = 1000,
    rows_per_salt: int = 256,
    max_salts: int = 32,
    broadcast_max_rows: int = DICT_BROADCAST_MAX_ROWS,
    batch_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs touching the NEW side only: new↔old and new↔new,
    never old↔old — the incremental-ingest shape (ADVICE r01: building
    candidates over old∪new materialized every old↔old within-block pair
    before discarding it, making per-batch cost grow with the corpus).

    The batch shape of :func:`_entity_pairs`: ``new_keyed`` ⊆ ``all_keyed``
    (both one row per entity_key) is the probe, ``batch_rows`` its
    caller-known row count. The output is exactly :func:`self_candidates`
    over ``all_keyed`` restricted to pairs with an endpoint in
    ``new_keyed`` — same pairs, same winning (block_pass, block_key), same
    payload. The only corpus-wide work is the broadcast semi-join scan of
    corpus block keys.

    Returns (pairs, dropped_blocks_metrics) for the touched blocks."""
    return _entity_pairs(
        all_keyed, new_keyed, max_block_size, rows_per_salt, max_salts,
        broadcast_max_rows, batch_rows,
    )


def dedup_pairs(pairs: DataFrame) -> DataFrame:
    """J4 first-wins dedup across passes by pass priority — one aggregate,
    deterministic, never an order-dependent dropDuplicates.

    The winner is encoded as a single min()-able string
    '<prio>|<pass>|<key>' instead of min(struct(...)). Both plan as
    SortAggregate (min over a non-primitive buffer isn't hash-aggregable in
    Spark), but both keep the map-side partial min — the shuffle carries one
    pre-reduced row per (pair, map-partition) — and the flat string halves
    the shuffle payload vs the struct.

    No blocking path calls this any more: the SortAggregate sorted the
    ~2.4×-duplicated pre-dedup pair stream end to end, and every candidate
    generator (dictionary, full-run and batch entity pairs) now dedups
    with the shuffle-free :func:`_winner_filter` instead. This aggregate
    stays as the executable spec the winner filter is parity-tested
    against (tests/test_winner_filter.py)."""
    prio = F.when(F.col("block_pass") == "prefix", "1").when(
        F.col("block_pass") == "metaphone", "2"
    ).otherwise("3")
    encoded = F.concat_ws("|", prio, F.col("block_pass"), F.col("block_key"))
    payload = [
        c
        for c in pairs.columns
        if c not in {"left_key", "right_key", "block_pass", "block_key"}
    ]
    agg = (
        pairs.withColumn("_w", encoded)
        .groupBy("left_key", "right_key")
        # payload columns (names/description) are functionally dependent on
        # the pair keys — min() just picks the single distinct value
        .agg(F.min("_w").alias("_w"), *[F.min(c).alias(c) for c in payload])
    )
    parts = F.split(F.col("_w"), r"\|", 3)
    return agg.select(
        "left_key",
        "right_key",
        parts.getItem(1).alias("block_pass"),
        parts.getItem(2).alias("block_key"),
        *payload,
    )
