package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Deduplication for large-scale training-data pipelines, over the
  * driver's `documents` / `embeddings` tables: exact (hash), word-shingle
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): no O(n^2) cross joins anywhere —
  *  - exact dedup is one hash-groupBy (map-side partial agg);
  *  - Jaccard joins docs through their (rare) 3-word shingles, so the
  *    shuffle volume is sum over shingles of df(s)^2, tiny for natural
  *    text, instead of |docs|^2;
  *  - MinHash/LSH banding turns near-dup search into an equi-join on
  *    (band, bandHash) — the classic shuffle-friendly LSH layout;
  *  - SimHash candidates come from 16-bit band equality, then a cheap
  *    popcount filter;
  *  - embedding near-dup joins through coarse LSH sign-buckets at scale
  *    (here the verified-exact variant is also emitted for the oracle).
  */
object Dedup {

  // ---- exact dedup on normalized text (md5 — same builtin in DuckDB) ----

  def exact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("h", md5(lower(trim(col("text")))))
    val w = Window.partitionBy("h").orderBy("doc_id")
    docs
      .withColumn("rn", row_number().over(w))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        sum(when(col("rn") > 1, 1).otherwise(0)).as("n_removed"))
  }

  // ---- paragraph-level dedup (the CCNet/Dolma pass: drop repeated ----
  // ---- paragraphs corpus-wide, keep the earliest occurrence)      ----

  /** Paragraph-level exact dedup: the corpus-wide pass CCNet and Dolma
    * run before document-level dedup — every paragraph is hashed, only
    * the EARLIEST occurrence (min (doc_id, pos)) survives, and each
    * document reports how much of it was duplicated text. The synthetic
    * corpus has no newlines, so "paragraph" = non-overlapping 10-word
    * chunk (deterministic and SQL-expressible; on real data the split
    * would be `\n\n`).
    *
    * Scale shape: one explode (pure map), one groupBy(h) with a
    * partial+final `min(struct(doc_id, pos))` (mergeable — no skew risk
    * beyond a degenerate all-equal corpus), one equi-join back on the
    * hash, one per-doc agg: the word-count shuffle class, all stages
    * codegen. md5 is the paragraph key for oracle parity (DuckDB has no
    * xxhash64); at 100 TB the key would be xxhash64 (8 B vs 32 B
    * shuffle rows) with md5 only on residual collisions. */
  def paragraphDedup(s: SparkSession, d: String): DataFrame =
    paragraphMarked(s, d)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup_paras"),
        sum(when(col("kept"), length(col("para")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
      .orderBy("doc_id")

  /** The (doc_id, pos, para, kept) stream both paragraph entries share:
    * explode into 10-word chunks, hash, mark the earliest corpus-wide
    * occurrence via a mergeable `min(struct(doc_id, pos))` + join-back. */
  private def paragraphMarked(s: SparkSession, d: String): DataFrame = {
    val paras = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, cast(floor((size(toks) - 1) / 10) as int)),
           i -> struct(i as pos,
                       concat_ws(' ', slice(toks, i * 10 + 1, 10)) as para))"""))
        .as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.para").as("para"))
      .filter(length(col("para")) > 0)
      .withColumn("h", md5(col("para")))
    val firsts = paras.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    paras.join(firsts, "h")
      .withColumn("kept",
        col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos"))
  }

  /** Paragraph-dedup REWRITE: reconstruct every document from its kept
    * paragraphs (earliest corpus-wide occurrence only, original order)
    * — the step that actually produces the deduplicated training corpus
    * [[paragraphDedup]] merely measures. Per doc: kept-paragraph count,
    * rewritten length, and a portable 63-bit content hash of the
    * rewritten text, so the DuckDB oracle certifies the reconstruction
    * character-for-character (an order bug or a joiner-space bug flips
    * the hash). Docs whose every paragraph was seen earlier elsewhere
    * drop out entirely — exactly the rewrite semantics.
    *
    * Scale shape: the marking stages are [[paragraphDedup]]'s verbatim
    * (word-count shuffle class); the reassembly adds ONE per-doc
    * aggregate whose shuffle is the surviving text itself — the
    * intrinsic output of a rewrite pass (you cannot emit a rewritten
    * corpus without moving the rewritten corpus once). collect_list is
    * bounded by a single document's paragraph count; array_sort(pos)
    * restores original order independent of arrival. */
  def paragraphRewrite(s: SparkSession, d: String): DataFrame =
    paragraphMarked(s, d)
      .filter(col("kept"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("""concat_ws(' ',
             transform(array_sort(collect_list(struct(pos, para))),
                       x -> x.para))""").as("new_text"))
      .withColumn("new_chars", length(col("new_text")).cast("long"))
      .withColumn("hx", md5(col("new_text")))
      .withColumn("new_h", graft.util.Md5Lower64.of("hx"))
      .select(col("doc_id"), col("n_kept"), col("new_chars"), col("new_h"))
      .orderBy("doc_id")

  // ---- word 3-gram shingles and the set-similarity join ----
  // ---- (shared by jaccard, containment, incremental, minhash) ----

  /** (doc_id, shingle-hash) pairs, distinct. Shingles are 3-word
    * windows, built directly from the split array with a higher-order
    * transform — a pure map, where the old posexplode + lead-window
    * formulation shuffled and sorted EVERY token just to see its two
    * successors. Hashing (xxhash64) happens inside the lambda so the
    * distinct shuffles 8-byte longs, not ~30-byte strings.
    *
    * With `parts` > 0 the raw stream is repartitioned BY H at that
    * count before the distinct: (a) no partial dedup runs over the
    * scan partitions (shingles are ~90% unique, so those maps dedup
    * little while spilling — the 2.2 GB class the 1000x probe pinned
    * on this stage), and (b) the h-partitioning then feeds BOTH the
    * df aggregate and the df join exchange-free (h ⊆ every downstream
    * key set). */
  private[graft] def shingleHashes(s: SparkSession, d: String,
                                   parts: Int = 0): DataFrame = {
    reg(s)
    // fused scan kernel (r14 opt): one allocation-free byte scan per doc
    // replaces split + sequence + per-shingle concat_ws + xxhash64 —
    // bit-identical hashes ([[graft.functions.Shingle3Kernel]] carries
    // the split/join-identity argument; PipelineOpsSpec pins it against
    // the expression chain). Docs with < 3 tokens yield an empty array,
    // so explode drops exactly the rows the old size() filter did.
    val raw = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(call_function("shingle3_hashes", col("text"))).as("h"))
    (if (parts > 0) raw.repartition(parts, col("h")) else raw).distinct()
  }

  /** The persisted shingle table of a corpus and the set-similarity
    * join over it (Bayardo et al., WWW'07), the one pipeline behind
    * [[jaccard]], [[containment]], [[incrementalNearDup]] and (its
    * verify tail) [[minhashLsh]]. An entry ranks the shingles
    * ([[ranked]]), picks and pins its two sides, and fixes the join
    * predicate and the required overlap of [[candidates]]; it then
    * scores the `(id_a, id_b, i, sza, szb)` rows of [[verified]].
    *
    * 64-bit shingle hashes throughout: set intersection on sorted
    * primitive longs, not ~30-byte strings (collision odds across a
    * pair of ~100-element sets: ~2^-51 — immaterial, incl. vs the
    * string-based oracles).
    *
    * @param nSh    the shingle row count (sizes [[pin]]'s materialization)
    * @param cParts partition count of the corpus-sized exchanges
    * @param pParts partition count of the candidate-PAIR exchange */
  private final case class Shingles(sh: DataFrame, nSh: Long,
                                    cParts: Int, pParts: Int) {

    /** [[pinShared]] at this table's size. */
    def pin(df: DataFrame): DataFrame = pinShared(nSh)(df)

    /** (doc_id, h, rank, sz), rarest shingle first (see [[rankedShingles]]). */
    def ranked: DataFrame = rankedShingles(sh, cParts)

    /** Candidate pairs `(id_a, id_b)` of the prefix join of ranked sides
      * `a` and `b`: rows sharing a shingle that pass `on` (a predicate
      * over the aliases "a" and "b": pair order plus the per-row
      * size/positional prunes), kept when the AGGREGATED exact bound per
      * pair (PPJoin+ suffix filter) still reaches `overlap`, the required
      * intersection size as a column over the pair's sizes `sza`/`szb`.
      * Both docs' shingles are sorted by the same (df, h) total order,
      * so with o prefix-prefix matches whose max matched ranks are (mra,
      * mrb): every common shingle below the largest match is itself a
      * prefix-prefix match (else its rank in the other doc would precede
      * a prefix position — contradiction), and every one above it sits
      * past BOTH max ranks. Hence exactly:
      *   inter <= o + min(sza - mra, szb - mrb)
      * The proof holds one-sided too (containment probes a whole ranked
      * side with a prefix: matched elements have rank_a inside the
      * prefix). This kills the junk class that 1000x exposed: short
      * common-vocabulary docs sharing ONE high-df shingle at the tail of
      * both prefixes (o = 1, mra ~ prefix end) passed the per-row prunes
      * and exploded the verify phase to tens of GB of array-carrying
      * shuffle; with the pair-level bound the verify set is the near-dup
      * set (o tracks the true overlap), so verify cost is output-bound,
      * not collision-bound. */
    def candidates(a: DataFrame, b: DataFrame, on: Column,
                   overlap: Column): DataFrame = {
      // the per-pair bound as STREAMING WINDOWS over a pair-co-located,
      // pre-sorted collision stream — the rankedShingles shape applied
      // to the pipeline's largest intermediate (522M rows at 1000x).
      // Phase-attributed profiling put the operator's whole 13-15 GB
      // disk spill in the former groupBy: its partial and final hash
      // maps (both co-located) each held that partition's distinct
      // pairs and fell back to sort-based aggregation. Here the
      // exchange (pair-count-scaled partitions) + one in-partition
      // Tungsten sort satisfy every window below, so o/mra/mrb stream
      // with a ~2-row group buffer and rn==1 collapses each pair
      // without any distinct aggregate. The join itself is cheap
      // (~20 s, zero spill measured without the aggregate).
      val byPair = Window.partitionBy("id_a", "id_b")
      a.as("a").join(b.as("b"), col("a.h") === col("b.h") && on)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.sz").as("sza"), col("b.sz").as("szb"),
          col("a.rank").as("ra"), col("b.rank").as("rb"))
        .repartition(pParts, col("id_a"), col("id_b"))
        .sortWithinPartitions("id_a", "id_b", "ra")
        .select(col("id_a"), col("id_b"), col("sza"), col("szb"),
          count(lit(1)).over(byPair).as("o"),
          max("ra").over(byPair).as("mra"),
          max("rb").over(byPair).as("mrb"),
          row_number().over(byPair.orderBy("ra")).as("rn"))
        .filter(col("rn") === 1 && col("o") +
          least(col("sza") - col("mra"), col("szb") - col("mrb")) >= overlap)
        .select("id_a", "id_b")
        // consumed twice by [[verified]] (probe + candidate-id prune),
        // and localCheckpoint rather than persist: the pair list is tiny,
        // and BREAKING its lineage phases the query — once candidates
        // materialize, the self-join/prefix shuffles (the ~30 GB middle
        // of the 1000x run) are collectable before the verify phase
        // starts, so peak scratch is max(phase), not sum(phases)
        .transform(ckptDisk)
    }

    /** `(id_a, id_b, i, sza, szb)` for the candidate pairs `cand`: the
      * exact intersection size of the two docs' shingle sets and both
      * set sizes, each entry's score filter reads it. */
    def verified(cand: DataFrame): DataFrame = {
      // verification only ever consults CANDIDATE docs' shingle arrays —
      // semi-prune sh before the collect_list groupBy, so the array-
      // building shuffle is candidate-sized, not corpus-sized (at the
      // 1000x probe the full-corpus `sets` was the single largest
      // shuffle, and minhash_lsh's dominant spill). candIds is the
      // near-dup doc set — broadcastable by construction (dup rates are
      // single-digit percents of the corpus)
      val candIds = cand.select(col("id_a").as("doc_id"))
        .union(cand.select(col("id_b").as("doc_id"))).distinct()
      val sets = sh.join(broadcast(candIds), "doc_id")
        // co-locate before aggregating (the rankedShingles pattern): sh
        // is partitioned by (doc_id, h), so the partial collect_list
        // would build and EXCHANGE per-partition array fragments for
        // ~every candidate doc; repartitioned, the exchange carries
        // narrow 16-byte rows and each array is built exactly once
        .repartition(col("doc_id"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list("h")).as("shs"), count(lit(1)).as("sz"))
        // consumed twice (the two pair-side joins) — pin, or the semi-
        // join + array build runs once per side; candidate-sized
        .transform(pin)
      cand
        .join(sets.select(col("doc_id").as("id_a"), col("shs").as("sha"),
          col("sz").as("sza")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("shs").as("shb"),
          col("sz").as("szb")), "id_b")
        .select(col("id_a"), col("id_b"),
          interSorted(col("sha"), col("shb")).as("i"), col("sza"), col("szb"))
    }
  }

  /** The shingle table of `d`, persisted and counted, with both
    * partition counts derived from ONE documents rowcount (parquet
    * metadata — no scan), the session setting as the floor of each — a
    * cluster absorbs a decade with MORE tasks, not bigger ones:
    *  - corpus-sized exchanges track the decade at ~40k docs per
    *    partition (~ tens of MB of shingle rows);
    *  - the candidate-PAIR exchange at ~10k: the collision stream is the
    *    pipeline's largest intermediate (~100 rows per doc at the 1000x
    *    probe), and a per-pair collapse over it (minhash_lsh's distinct)
    *    builds TWO hash maps (partial + final, co-located) of
    *    partition-local pairs — ~4x the per-partition budget of the rank
    *    exchange, hence 4x the tasks. */
  private def shingles(s: SparkSession, d: String): Shingles = {
    reg(s)
    val nDocs = Tables.documents(s, d).count()
    val floor = s.sessionState.conf.numShufflePartitions
    val cParts = math.max(floor, (nDocs / 40000L).toInt)
    val sh = shingleHashes(s, d, cParts)
      // serialized cache blocks: the deserialized default holds ~10 GB
      // of row objects for a 265M-row shingle table at the third
      // decade, crowding the unified region and starving the pair
      // exchange's shuffle sorter (measured as pure shuffle-writer
      // spill in the phase probe); SER blocks are ~5x smaller and
      // evictable past the protected fraction
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // pin the cache before fan-out: the downstream branches (ranked
    // sides, sets, signatures) otherwise race to materialize it
    // concurrently and can recompute the window+distinct per branch
    Shingles(sh, sh.count(), cParts, math.max(floor, (nDocs / 10000L).toInt))
  }

  /** (doc_id, h, rank, sz): each doc's shingles ranked rarest-first by
    * (global df, h) — the prefix-filter ordering of [[Shingles]]. Shape:
    * one scale-tracking repartition by doc_id, an EXPLICIT in-partition
    * Tungsten sort, and two streaming windows whose required
    * partitioning/ordering the exchange+sort already satisfy — so
    * row_number/count add no buffering beyond one doc's rows. This
    * replaced two earlier formulations measured at the third decade:
    * the r7 global window (one 500M-row external sort at session
    * partition counts — overflowed the box), and the r8
    * collect_list+array_sort aggregate (no spill, but 198 of
    * dedup_jaccard's 377 s: ObjectHashAggregate falls back to
    * sort-based past 128 groups and array_sort over struct elements
    * compares interpreted, per element, per row). Pre-sorted partitions
    * sized by the corpus partition count keep the same sort ~60 MB per
    * task — in-memory, binary, codegen'd. */
  private def rankedShingles(sh: DataFrame, parts: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    // df as an h-partitioned WINDOW, not a groupBy(h)+join (r14 opt):
    // sh is cached hash(h)-partitioned, so the window needs no exchange
    // and ONE in-partition sort by h, where the former sort-merge join
    // sorted BOTH the 46M-row shingle stream and the 46M-group dfreq
    // aggregate by h before merging (stage-attributed at the 100x
    // probe). count(*) over (partition by h) is the same integer the
    // join attached — bit-exact by definition.
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .repartition(parts, col("doc_id"))
      .sortWithinPartitions("doc_id", "df", "h")
      // rank/sz as INT, not LONG: these two columns ride every
      // candidate-pipeline exchange twice (both join sides) — 8 bytes
      // saved per column per row on the operator's largest shuffles,
      // and a per-doc shingle count can't approach 2^31
      .select(col("doc_id"), col("h"),
        row_number().over(byDoc.orderBy("df", "h")).as("rank"),
        count(lit(1)).over(byDoc).cast("int").as("sz"))
  }

  /** Exact intersection size of two ascending-sorted Long arrays —
    * native codegen'd kernel ([[graft.functions.SortedLongIntersect]]):
    * stays in whole-stage codegen, reads the unsafe arrays directly. */
  private def interSorted(a: org.apache.spark.sql.Column,
                          b: org.apache.spark.sql.Column) =
    call_function("vec_inter_sorted", a, b)

  private def reg(s: SparkSession): Unit =
    graft.functions.GraftFunctions.register(s)

  /** Phase checkpoint: materialize eagerly, break lineage (upstream
    * shuffle files become collectable — max(phase) scratch, not
    * sum(phases)) — and store the blocks MEMORY_AND_DISK_SER. The
    * default localCheckpoint level (MEMORY_AND_DISK deserialized) holds
    * each partition as row OBJECTS in the storage region; at the 1000x
    * probe (5M docs) the prefix/signature tables are 10+ GB of heap that
    * way, and a 24g driver OOM'd mid-verify. DISK_ONLY fixed that but
    * taxed the decade rows that DO fit (the 100x bench rows paid ~8 s of
    * pure checkpoint I/O for data a few hundred MB serialized). SER is
    * the tier that serves both: compact serialized blocks (~5-10x
    * smaller than row objects) that stay memory-resident when they fit
    * and spill through the unified memory manager when they don't — and
    * execution can evict them past the protected storage fraction, so
    * the hash aggregates still own the heap under pressure. */
  private def ckptDisk(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true,
      storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Shingle-row count past which the CORPUS-SIZED phase tables get the
    * lineage-release checkpoint: ~100M rows is where their upstream
    * shuffle files grow into the tens of GB that crowd a single box's
    * scratch (the 1000x probe's failure mode). The pair-list and label
    * checkpoints stay unconditional — they are kilobyte-class and their
    * lineage break is what phases the query. */
  private val ckptShingleRows = 100000000L

  /** Materialize-and-pin a frame consumed by MULTIPLE downstream
    * branches (r14 opt, guide §2.4). Spark 4.1's AQE does not reuse
    * exchanges whose subtree contains an InMemoryRelation scan — the
    * TableCacheQueryStage wrapping defeats the stage cache's canonical
    * match (isolated in a minimal self-join probe: reuse fires with AQE
    * off or with the cache removed, never with both on) — so every
    * dedup self-join recomputed its whole shared chain per side:
    * measured at the 100x probe as back-to-back duplicate map stages
    * (2×370 MB and 2×264.5 MB writes in jaccard, the sig pipeline ~3×
    * in minhash_lsh), ~30-40% of the trio's executor CPU. Persisting
    * the shared frame and PINNING it with one count() (compute once,
    * cache write) turns the second consumption into a cache read. Above
    * [[ckptShingleRows]] the eager localCheckpoint takes over — same
    * materialization, plus the lineage release the decade runs need. */
  private def pinShared(nShingleRows: Long)(df: DataFrame): DataFrame =
    if (nShingleRows > ckptShingleRows) ckptDisk(df)
    else {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      p.count()
      p
    }

  /** Prefix of a doc's rarest-first shingles that any pair with required
    * overlap ceil(t*|d|) must touch: |d| - ceil(t*|d|) + 1 (pigeonhole). */
  private def inPrefix(t: Double): Column =
    col("rank") <= col("sz") - ceil(col("sz") * t) + 1

  /** Per-row prunes of a J >= minJ collision ("a"/"b" ranked rows):
    *  - size compatibility: J >= minJ forces min(sz)/max(sz) >= minJ
    *  - positional bound (PPJoin): overlap <= min(remaining suffix
    *    lengths past this shared shingle) + 1 */
  private def jaccardPrunes(minJ: Double): Column = {
    val need = ceil(greatest(col("a.sz"), col("b.sz")) * minJ)
    least(col("a.sz"), col("b.sz")) >= need &&
      least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) + 1 >= need
  }

  /** Required overlap of J >= minJ: inter >= (sza+szb) * minJ/(1+minJ).
    * The 1e-9 slack keeps FP rounding of minJ/(1+minJ) from ever pushing
    * ceil past the exact integer threshold (rejecting a true pair);
    * admitting a borderline extra candidate is harmless. */
  private def jaccardOverlap(minJ: Double): Column =
    ceil((col("sza") + col("szb")) * (minJ / (1 + minJ)) - 1e-9)

  /** [[Shingles.verified]] rows scored by Jaccard, kept at J >= minJ:
    * `(id_a, id_b, jac)` with jac rounded to 4 dp. */
  private def jaccardAtLeast(minJ: Double)(verified: DataFrame): DataFrame =
    verified
      .withColumn("j", col("i") / (col("sza") + col("szb") - col("i")))
      .filter(col("j") >= minJ)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jac"))

  /** Near-duplicate pairs by exact shingle Jaccard >= 0.5, with exact
    * PREFIX FILTERING (Bayardo et al., WWW'07): order each doc's
    * shingles rarest-first by global document frequency; a pair with
    * J >= 0.5 MUST share a shingle among each doc's first
    * |d| - ceil(J*|d|) + 1 shingles (pigeonhole on the required overlap
    * ceil(J*|union|) >= ceil(J*|d|)), so only prefixes are joined.
    * High-df shingles sort into suffixes and never generate candidates —
    * the df(s)^2 blowup of the naive all-shared-shingles join is gone,
    * and the result is still exact because every candidate is verified
    * with the full shingle sets. */
  def jaccard(s: SparkSession, d: String): DataFrame = {
    val minJ = 0.5
    val t = shingles(s, d)
    // pinned: the self-join consumes prefix TWICE and AQE's cache-blind
    // exchange reuse recomputes the whole ranked chain per side (see
    // pinShared) — materialized once, both sides read the cache; above
    // the size gate the checkpoint adds lineage release
    val prefix = t.ranked.filter(inPrefix(minJ)).transform(t.pin)
    val cand = t.candidates(prefix, prefix,
      col("a.doc_id") < col("b.doc_id") && jaccardPrunes(minJ),
      jaccardOverlap(minJ))
    t.verified(cand).transform(jaccardAtLeast(minJ)).orderBy("id_a", "id_b")
  }

  /** Dedup threshold-tuning curve: near-dup pair counts and affected-
    * document counts at Jaccard thresholds 0.5-0.9, from ONE pass of
    * the [[jaccard]] machinery (its candidate generation is exact down
    * to J >= 0.5, so every curve point is exact). The report a pipeline
    * reads before committing a threshold to a 100 TB dedup run: how
    * many pairs/docs each setting would touch. The pair set is tiny
    * relative to the corpus (it IS the near-dup set), so the 5-threshold
    * fan-out is a broadcast cross of a small frame. */
  def jaccardCurve(s: SparkSession, d: String): DataFrame = {
    val pairs = jaccard(s, d).persist()
    pairs.count() // pin: n_pairs and n_docs branches otherwise race to
    // materialize the verify tail concurrently (the sh-cache discipline)
    val thresholds = s.createDataFrame(
      Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(Tuple1(_))).toDF("threshold")
    val hit = pairs.crossJoin(broadcast(thresholds))
      .filter(col("jac") >= col("threshold"))
    val nPairs = hit.groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("threshold"), explode(array(col("id_a"), col("id_b")))
        .as("doc"))
      .groupBy("threshold")
      .agg(count_distinct(col("doc")).as("n_docs"))
    thresholds
      .join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }

  /** ASYMMETRIC containment pairs: C(A -> B) = |A ∩ B| / |A| >= 0.7
    * with A the smaller shingle set — the boilerplate/subset-duplication
    * detector Jaccard misses (a doc quoted whole inside a much larger
    * one has tiny J but C ~ 1; Broder 1997 distinguishes resemblance
    * from containment for exactly this). Same scale shape as [[jaccard]]
    * with one asymmetry: the prefix filter applies only to the CONTAINED
    * side (a qualifying pair must share one of A's rarest
    * sz - ceil(0.7 sz) + 1 shingles — pigeonhole on the required
    * overlap), while the container side probes with its full rarest-
    * ranked list; containment puts no lower bound on B's share, so no
    * size-compatibility prune exists and candidate volume is bounded by
    * the rarest-first prefix df alone. Positional prune on A still
    * applies (overlap <= sz_a - rank_a + 1). Exact verify on sorted
    * 64-bit shingle sets (the jaccard collision argument); the oracle
    * replays with string shingles. */
  def containment(s: SparkSession, d: String): DataFrame = {
    val minC = 0.7
    val t = shingles(s, d)
    // pinned: consumed as BOTH candidate-join sides (prefix filters it,
    // the container side probes it whole) — see pinShared
    val ranked = t.ranked.transform(t.pin)
    val cand = t.candidates(ranked.filter(inPrefix(minC)), ranked,
      (col("a.sz") < col("b.sz") ||
        (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id"))) &&
        col("a.sz") - col("a.rank") + 1 >= ceil(col("a.sz") * minC),
      ceil(col("sza") * minC - 1e-9)) // required overlap: ceil(sza * minC)
    t.verified(cand)
      .withColumn("c", col("i") / col("sza"))
      .filter(col("c") >= minC)
      .select(col("id_a"), col("id_b"), col("sza").as("sz_a"),
        col("szb").as("sz_b"), round(col("c"), 4).as("containment"))
      .orderBy("id_a", "id_b")
  }

  /** Incremental ingest near-dup: an incoming BATCH (doc_id % 10 == 0
    * stands in for the day's new documents) checked against the frozen
    * CORPUS (the rest) — the asymmetric join an ingest pipeline runs
    * every cycle, where re-pairing the corpus against itself would be
    * quadratic waste.
    *
    * Same exact prefix-filter theory as [[jaccard]] (one consistent
    * rarest-first global shingle order across both sides), but the
    * candidate join is PREFIX(new) x PREFIX(corpus) only: shuffle
    * volume scales with the BATCH size times prefix df, not the corpus
    * pair count. At 100 TB the corpus prefix postings are a write-time
    * layout keyed by shingle hash (built once, appended per cycle) and
    * each batch probes it — this operator is that probe, expressed
    * relationally. */
  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val minJ = 0.5
    val t = shingles(s, d)
    // pinned: BOTH candidate-join sides are filters of this frame — see
    // pinShared (the ranked chain otherwise recomputes per side)
    val prefix = t.ranked.filter(inPrefix(minJ)).transform(t.pin)
    val cand = t.candidates(prefix.filter(col("doc_id") % 10 =!= 0),
      prefix.filter(col("doc_id") % 10 === 0), jaccardPrunes(minJ),
      jaccardOverlap(minJ))
    t.verified(cand).transform(jaccardAtLeast(minJ))
      .select(col("id_a").as("corpus_id"), col("id_b").as("new_id"), col("jac"))
      .orderBy("corpus_id", "new_id")
  }

  /** Corpus snapshot diff (CDC): classify every document as added /
    * removed / modified between two corpus versions by CONTENT HASH —
    * the bookkeeping that drives incremental reprocessing (only
    * added+modified docs re-enter the dedup/filter/tokenize pipeline,
    * removed ids retire downstream artifacts). Snapshot A is the
    * documents table; snapshot B is derived deterministically on BOTH
    * engines (delete doc_id % 23 == 5; append " [rev2]" where % 17 == 3,
    * delete-wins on overlap; mirror % 41 == 7 docs as new ids above
    * max(doc_id)), so the DuckDB oracle replays the whole diff.
    *
    * Scale shape: each side is hashed AT THE SCAN (md5 + length project
    * text away before any exchange), so the full-outer join on doc_id —
    * the one unavoidable shuffle, co-partitioned both sides — carries
    * (id, lang, len, 32-B hash) rows, never document bodies. Unchanged
    * docs (the overwhelming mass of a real snapshot pair) are filtered
    * immediately after the join; output is change-shaped. At 100 TB
    * both snapshots would be bucketed by doc_id, making the join
    * exchange-free; md5 here is oracle parity, production would use
    * xxhash64 (8 B vs 32 B keys). The 1-row max(doc_id) aggregate
    * enters via broadcast — no driver round-trip. */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val docs = Tables.documents(s, d)
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val a = docs.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("len"), md5(col("text")).as("h"))
    val bKept = docs.filter(col("doc_id") % 23 =!= 5)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 17 === 3, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("t"))
    val bAdded = docs.filter(col("doc_id") % 41 === 7)
      .crossJoin(broadcast(maxId))
      .select((col("max_id") + col("doc_id") + 1).as("doc_id"), col("lang"),
        concat(col("text"), lit(" (mirror)")).as("t"))
    val b = bKept.unionByName(bAdded)
      .select(col("doc_id"), col("lang"),
        length(col("t")).cast("long").as("len"), md5(col("t")).as("h"))
    a.as("a").join(b.as("b"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("b.h").isNull, lit("removed"))
          .when(col("a.h").isNull, lit("added"))
          .when(col("a.h") =!= col("b.h"), lit("modified"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"),
        coalesce(col("a.lang"), col("b.lang")).as("lang"),
        col("a.len").as("chars_old"), col("b.len").as("chars_new"))
      .orderBy("doc_id")
  }

  /** Leakage-safe train/validation/test split: assign every document a
    * split by a deterministic rep-keyed hash, where near-dup CLUSTERS
    * (connected components of the J >= 0.5 Jaccard graph) move as a
    * UNIT — all members inherit the component representative's
    * assignment. The split every training pipeline actually needs:
    * hashing raw doc_ids leaks near-duplicate eval rows into train
    * (memorization reads as generalization); keying the hash on the
    * cluster rep makes straddling impossible by construction, and a
    * spec asserts zero near-dup pairs cross splits. 90/5/5 via bucket =
    * portable-md5(rep) % 100 (same [[graft.util.Md5Lower64]] ↔
    * `md5_number_lower` twin as text_sample_weighted, so the DuckDB
    * oracle replays the whole split including the closure).
    *
    * Scale shape: the dup-graph labels come from [[componentLabels]]
    * (graph-size-adaptive CC; the near-dup graph is orders of magnitude
    * smaller than the corpus) and join back onto the id-projected
    * corpus on doc_id — one co-partitioned equi-join (a crawl corpus
    * can be 30-50% dups, so the label side is NOT assumed broadcastable;
    * at 100 TB both sides arrive bucketed by doc_id from the dedup
    * pipeline and the join goes exchange-free). Hash + bucket + split
    * are per-row kernels; nothing but (doc_id, rep) ever shuffles. */
  def splitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val pairs = jaccard(s, d).select(col("id_a"), col("id_b"))
    val labels = componentLabels(s, pairs) // (doc_id, lbl), graph docs only
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("lbl"), col("doc_id")))
      .withColumn("hx", md5(col("rep").cast("string")))
      .withColumn("bucket", (graft.util.Md5Lower64.of("hx") % 100).cast("int"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("validation"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("rep"), col("bucket"), col("split"))
      .orderBy("doc_id")
  }

  /** Canonical-document selection per near-dup cluster: instead of
    * keep-first (min doc_id), keep the BEST member of every duplicate
    * cluster — prefer docs passing the Gopher quality verdict, then
    * longer docs, tie to the lowest doc_id. What production dedup
    * actually ships: the retained copy should be the highest-quality
    * one, not whichever crawled first. One row per cluster:
    * representative, size, the kept doc and its signals.
    *
    * Scale shape: cluster labels from the graph-size-adaptive
    * [[componentLabels]] join the per-doc quality signals (pure scan,
    * [[Quality.qualityFilters]]) on doc_id; the per-cluster argmax is a
    * single mergeable partial+final `max(struct(...))` — Spark's struct
    * ordering is lexicographic, so (keep, n_words, −doc_id) encodes the
    * whole preference with NO window and no per-cluster row shuffle
    * beyond the label aggregate. Integer-only comparisons — exact
    * oracle parity by construction. */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val pairs = jaccard(s, d).select(col("id_a"), col("id_b"))
    val labels = componentLabels(s, pairs) // (doc_id, lbl), graph docs only
    val sig = graft.operators.Quality.qualityFilters(s, d)
      .select(col("doc_id"), col("n_words"), col("keep"))
    labels.join(sig, "doc_id")
      .groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("keep").cast("int").as("k"),
          col("n_words").as("w"), (-col("doc_id")).as("negId"))).as("best"))
      .select(col("cluster_rep"), col("csize"),
        (-col("best.negId")).as("keep_id"),
        col("best.w").cast("long").as("keep_n_words"),
        (col("best.k") === 1).as("keep_passes"))
      .orderBy("cluster_rep")
  }

  /** Connected components over the Jaccard near-dup graph (J >= 0.5):
    * one row per duplicate CLUSTER — representative (min doc_id in the
    * component), size, and the sorted member list. The canonical corpus-
    * cleaning refinement over pairwise near-dup: transitive duplicates
    * (a~b, b~c) collapse into one keep-one group even when a~c itself
    * is below threshold.
    *
    * Scale design is GRAPH-SIZE-ADAPTIVE, the standard production CC
    * structure: the dup graph (edges = near-dup pairs) is orders of
    * magnitude smaller than the corpus, so when it fits one task the
    * components resolve in a single-task union-find — one pass, zero
    * iteration rounds, no driver collect (the edges stay in an
    * executor task). Only past the threshold does the distributed
    * min-label propagation below take over. Per iteration there: one
    * equi-join of labels onto edges + one groupBy(dst) min — both plain
    * shuffles on doc_id; the driver sees only the changed-label COUNT
    * for the convergence test, never data. Rounds are bounded by the
    * component diameter (near-dup clusters are dense, diameter ~2-3; the
    * large-star/small-star refinement would cap rounds at O(log n) for
    * adversarial chain graphs). localCheckpoint truncates lineage per
    * round so the plan stays constant-size at any iteration count.
    * Both paths produce identical (doc_id, min-member-label) rows —
    * PipelineOpsSpec asserts the agreement. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    dupClustersImpl(s, d, 4000000L)

  /** Single-task union-find with path compression over an edge
    * iterator; emits (node, min member of its component). */
  private[graft] def unionFind(
      edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // snapshot the key set before iterating: find() mutates the same
    // LongMap via path compression. Today that only UPDATES existing
    // keys (no insert, so no rehash mid-iteration), but the snapshot
    // keeps the loops valid even if find() ever gains an insert.
    val ks = parent.keys.toArray
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    ks.foreach { n =>
      val r = find(n)
      minOf(r) = math.min(minOf.getOrElse(r, n), n)
    }
    ks.iterator.map(n => (n, minOf(find(n))))
  }

  private[graft] def dupClustersImpl(
      s: SparkSession, d: String, smallThreshold: Long): DataFrame = {
    val pairs = jaccard(s, d).select(col("id_a"), col("id_b"))
    // pre-partition the (static) edge table on the join key once: the
    // persisted partitioning satisfies each round's join requirement, so
    // per iteration only the (much smaller) label side shuffles. The
    // iteration partition count follows the EDGE count, not the session
    // default — the dup graph is orders of magnitude smaller than the
    // corpus, and running a 256-edge round through 32-way exchanges is
    // pure scheduling overhead (at 100 TB the same formula widens).
    // both edge directions from ONE pass over the pair plan: a union of
    // (pairs, pairs-reversed) would evaluate the whole Jaccard pipeline
    // twice (each union branch materializes its own copy); the explode
    // emits the two directions from a single evaluation
    val labels = componentLabels(s, pairs, smallThreshold)
    labels.groupBy(col("lbl").as("cluster_rep"))
      .agg(
        count(lit(1)).as("csize"),
        expr("""array_join(transform(sort_array(collect_list(doc_id)),
                x -> CAST(x AS STRING)), ',')""").as("members"))
      .orderBy("cluster_rep")
  }

  /** Connected-component labels (node, min member of its component)
    * over an undirected edge list given as `(id_a, id_b)` pairs — the
    * graph-size-adaptive core shared by [[dupClustersImpl]] and
    * density clustering ([[Similarity.embDbscan]]): a one-task
    * union-find below `smallThreshold` edges, min-label propagation
    * with pointer jumping above it. Only nodes that appear in at least
    * one edge are labeled — isolated nodes are the CALLER's concern
    * (coalesce the left join). Output columns: `doc_id`, `lbl`;
    * materialized, so the input pair plan is evaluated exactly once. */
  private[graft] def componentLabels(
      s: SparkSession, pairs: DataFrame,
      smallThreshold: Long = 4000000L): DataFrame = {
    val symAll = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select("e.src", "e.dst")
      .persist()
    val nEdges = symAll.count()
    val labels: DataFrame =
      if (nEdges <= smallThreshold) smallGraphLabels(s, symAll)
      else bigGraphLabels(s, symAll, nEdges)._1
    // both paths return MATERIALIZED labels (localCheckpoint), so the
    // cached edge table can be dropped here — one cleanup point instead
    // of per-path, no leak across long-lived sessions
    symAll.unpersist()
    labels
  }

  /** The one-task path: edges coalesce into a single partition and a
    * union-find resolves every component in one pass (still in an
    * executor task — no driver collect). */
  private def smallGraphLabels(s: SparkSession, symAll: DataFrame): DataFrame = {
    import s.implicits._
    symAll.as[(Long, Long)].coalesce(1)
      .mapPartitions(unionFind)
      .toDF("doc_id", "lbl")
      .transform(ckptDisk)
  }

  /** The distributed path: min-label propagation WITH POINTER JUMPING.
    * Each round is (a) one edge join + min aggregate — labels flow one
    * hop along graph edges — and (b) one node-sized self-join applying
    * path halving, lbl(v) <- min(lbl(v), lbl(lbl(v))). Propagation
    * alone needs DIAMETER rounds (a planted 64-chain would exhaust the
    * old 50-round cap and silently return non-converged labels); with
    * halving the label forest's depth halves every round, so rounds are
    * O(log diameter) — the same convergence class as the
    * large-star/small-star contraction (Kiveris et al. 2014), kept in
    * the min-label formulation so the output contract (doc_id -> min
    * member of its component) is untouched. lbl values are always node
    * ids (inits are, mins of node ids are), so lbl(lbl) resolves inside
    * the label table itself — a node-sized join, never edge-sized, and
    * the HUB pattern (one label touching ~1% of docs) costs one
    * map-side-combined min aggregate, never a single giant task
    * (PipelineOpsSpec plants both shapes). A residual `changed` at the
    * cap now THROWS instead of returning wrong labels. Returns the
    * labels and the number of rounds they took. */
  private[graft] def bigGraphLabels(
      s: SparkSession, symAll: DataFrame, nEdges: Long): (DataFrame, Int) = {
    val parts = math.max(4, math.min(s.sparkContext.defaultParallelism,
      (nEdges / 500000L).toInt + 1))
    val sym = symAll.repartition(parts, col("src")).persist()
    sym.count()
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .repartition(parts, col("doc_id"))
      .withColumn("lbl", col("doc_id"))
      .transform(ckptDisk)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val msgs = sym
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .repartition(parts, col("dst")) // agg reuses this exchange
        .groupBy("dst")
        .agg(min("lbl").as("nlbl"))
        .withColumnRenamed("dst", "doc_id")
      // the changed flag rides the same pass — no separate old-vs-new
      // join, so each round is one edge join + one aggregate ...
      // checkpointed: the halving join consumes prop on BOTH sides —
      // without materialization each side would replay the edge join
      val prop = labels.join(msgs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), col("lbl")) < col("lbl")).as("chg"))
        .transform(ckptDisk)
      // ... plus the node-sized halving join (left: defensive — every
      // lbl IS a doc_id row by the invariant above)
      val parents = prop.select(col("doc_id").as("p_id"), col("lbl").as("p_lbl"))
      val next = prop.join(parents, col("lbl") === col("p_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("lbl"),
          (col("chg") ||
            coalesce(col("p_lbl"), col("lbl")) < col("lbl")).as("chg"))
        .transform(ckptDisk)
      changed = next.filter(col("chg")).count()
      labels = next.drop("chg")
      iter += 1
    }
    sym.unpersist()
    require(changed == 0,
      s"label propagation did not converge in $iter rounds " +
        s"($changed labels still moving) — refusing to emit partial components")
    (labels, iter)
  }

  // ---- MinHash + LSH banding ----

  /** MinHash+LSH candidate pairs verified with exact Jaccard >= 0.5.
    * 32 hashes, 8 bands x 4 rows (P(detect) at J=0.5: 1-(1-0.0625)^8=0.40;
    * at J=0.8: 0.97). Oracle: the exact-Jaccard SQL — the verify step
    * makes the output exact whenever banding recall is 1.0, which holds
    * on the gate datasets, so the oracle checks recall too.
    *
    * Each shingle is hashed ONCE (codegen'd xxhash64); the 32 signature
    * coordinates come from cheap 64-bit mixing of that one hash —
    * min-wise independent enough for banding, ~20x less work than 32
    * string hashes per shingle. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val numHashes = 32
    val rowsPerBand = 4
    val t = shingles(s, d)
    // The 32-coordinate signature as a PARTIAL+FINAL min aggregate:
    // sig_k(doc) = min over shingles of mix(h ^ seed_k), and min is
    // mergeable — so the shuffle carries 32 longs per doc instead of the
    // doc's full shingle array (the r8 1000x probe measured the
    // array-building collect_list as the operator's dominant spill).
    // The per-row values come from the SAME minhash_sig kernel applied
    // to a 1-element array (sig of [h] IS [mix(h ^ seed_k)]_k), so the
    // signatures — and therefore the band keys, the oracle replay, and
    // the stream/batch agreement — are bit-identical to the array form;
    // codegen subexpression elimination keeps it one kernel call per row.
    val sigArr = call_function("minhash_sig", array(col("h")))
    val mins = (0 until numHashes).map(k =>
      min(element_at(sigArr, k + 1)).as(s"m$k"))
    // repartition by doc_id first: sh is partitioned by h (the distinct),
    // so a partial aggregate over it builds ~every doc's 33-column state
    // in EVERY partition — wider than the input it summarizes (measured
    // filling the 1000x probe's disk). Co-located, the aggregate is
    // single-phase and its state is partition-local docs only.
    val sigs = t.sh.repartition(col("doc_id"))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .withColumn("sig",
        array((0 until numHashes).map(k => col(s"m$k")): _*))
    // ids-only through the band explode + self-join; the band key is
    // xxhash64 over the signature slice — codegen'd, and stable across
    // JVM versions where Seq.hashCode was only stable per JVM era.
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(numHashes / rowsPerBand - 1))).as("band"))
      .withColumn("bh",
        xxhash64(slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
      .select("doc_id", "band", "bh")
      // pinned: consumed by the bucket-size aggregate AND the pruned
      // join — unpinned, the whole signature pipeline (the 32-way min
      // aggregate over every shingle) recomputes per consumer (see
      // pinShared); ids-only rows, ~8 per doc
      .transform(t.pin)
    // standard LSH hygiene: drop mega-buckets — a band value shared by
    // hundreds of docs is non-discriminative and quadratically explosive
    // (its true pairs still surface through their other 7 bands)
    val bandSizes = bands.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
    val pruned = bands.join(bandSizes.filter(col("bsz") <= 64), Seq("band", "bh"))
      // pinned: the candidate self-join consumes it twice (see pinShared)
      .transform(t.pin)
    val cand = pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // pair co-location before the dedup aggregate at the pair-scaled
      // partition count: a partial distinct over (band, bh)-partitioned
      // join output holds ~every candidate pair per partition;
      // partitioned by pair, the dedup maps are partition-local and
      // sized to task memory
      .repartition(t.pParts, col("id_a"), col("id_b"))
      .distinct()
      // consumed twice by the verify tail; the lineage break phases the
      // query (see Shingles.candidates)
      .transform(ckptDisk)
    t.verified(cand).transform(jaccardAtLeast(0.5)).orderBy("id_a", "id_b")
  }

  // ---- SimHash ----

  /** The corpus vocabulary's kernel hashes, sorted by token, for the
    * [[simhash]] oracle. For a single word (no spaces), simhash64's
    * bit-vote IS the word hash — counts(b) = +1 iff bit b of h is set, so
    * the output equals h — which lets the token->hash table be
    * interpolated into the DuckDB oracle as a VALUES literal (the same
    * trick as the LSH planes and IVF codebook). DuckDB then replays
    * bit-votes, banding, and hamming exactly, turning the kernel query
    * into a full hash check. Vocabulary-bounded collect (tens of KB on
    * any natural-language corpus at the cap); None past the cap, where
    * the entry stays rows-only rather than interpolating megabytes of
    * SQL. */
  private def simhashVocab(s: SparkSession, d: String): Option[Array[(String, Long)]] = {
    reg(s)
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok")).distinct()
      .limit(SimhashOracleVocabCap + 1)
      .select(col("tok"), call_function("simhash64", col("tok")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (vocab.length > SimhashOracleVocabCap) None
    else Some(vocab.sortBy(_._1))
  }
  private val SimhashOracleVocabCap = 20000

  /** 64-bit SimHash over word hashes; near dups = hamming distance <= 8
    * among 16-bit-band candidates. Exact-hash-checked: the deterministic
    * token->hash table is interpolated into the oracle (see
    * [[simhashVocab]]). simhash64 is a native codegen kernel
    * (VectorExprs); the hamming distance is the builtin bit_count over
    * xor — no ScalaUDF anywhere. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    reg(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sh64"))
    val banded = docs.select(col("doc_id"), col("sh64"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bh", expr("(sh64 >> (band * 16)) & 65535"))
      // pinned: the self-join consumes it twice and AQE's cache-blind
      // reuse recomputes the per-doc simhash64 kernel per side (see
      // pinShared); 4 ids-only rows per doc
      .transform(pinShared(0L))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh64").as("ha"), col("b.sh64").as("hb"))
      .distinct()
      .withColumn("dist", expr("bit_count(ha ^ hb)"))
      .filter(col("dist") <= 8)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
  }

  /** Fully-relational SimHash — the oracle-checkable sibling of
    * [[simhash]]. Token hash = the lower 64 bits of md5, assembled to
    * match DuckDB's `md5_number_lower` exactly (last 8 digest bytes,
    * LITTLE-endian) with conv/substring arithmetic; the 64 bit-votes are
    * 64 conditional-sum aggregates in ONE groupBy (no 64x explode —
    * vote state rides the same single hash shuffle as any groupBy);
    * bands/hamming identical to [[simhash]]. Same scan-shaped plan at
    * 100 TB. The xxhash64 kernel variant stays the fast path — this one
    * pays ~3x on token hashing to buy an exact cross-engine oracle. */
  def simhashRel(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val th = toks
      .withColumn("hx", md5(col("tok")))
      // full signed 64-bit (bit 63 is a vote) — single-conv assembly
      .withColumn("h", graft.util.Md5Lower64.signedOf("hx"))
    val votes = (0 until 64).map { i =>
      sum(when(expr(s"shiftrightunsigned(h, $i) & 1") === 1, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val voted = th.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    def bandVal(b: Int) = (0 until 16).map { j =>
      when(col(s"v${16 * b + j}") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _).as(s"b$b")
    val piv = voted.select(col("doc_id") +: (0 until 4).map(bandVal): _*)
      // pinned: consumed by the band explode AND both verify joins —
      // the md5 bit-vote pipeline recomputes per consumer otherwise
      // (see pinShared); one 5-column row per doc
      .transform(pinShared(0L))
    val bands = piv.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"b$b").as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bv").as("bv"))
    // same mega-bucket hygiene as minhashLsh: a band value shared by
    // hundreds of docs is non-discriminative and quadratically explosive
    // (synthetic small-vocab corpora hit this hard) — cap at 64, the
    // oracle applies the identical cap via a count window
    val bandSizes = bands.groupBy("band", "bv").agg(count(lit(1)).as("bsz"))
    val pruned = bands.join(bandSizes.filter(col("bsz") <= 64), Seq("band", "bv"))
      .transform(pinShared(0L)) // self-join consumes it twice (see pinShared)
    val cand = pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(piv.select(col("doc_id").as("id_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "id_a")
      .join(piv.select(col("doc_id").as("id_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "id_b")
      .withColumn("dist", expr(
        """bit_count(a0 ^ c0) + bit_count(a1 ^ c1) +
           bit_count(a2 ^ c2) + bit_count(a3 ^ c3)""").cast("long"))
      .filter(col("dist") <= 8)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
  }

  // ---- embedding cosine near-dup ----

  /** One packed row per block of vectors: ids sorted ascending, vectors
    * flattened into a single primitive array with stride `dim`.
    * (Not `private` — the Catalyst encoder's generated projection needs
    * constructor access.) */
  case class VecBlock(blk: Int, dim: Int, ids: Array[Long], flat: Array[Double])

  /** Pairs with cosine >= 0.4 (data max ~0.51), exact, via a block-nested
    * join that never touches the driver: vectors hash into NUM_BLOCKS
    * blocks (one shuffle), each block packs into one row of flat
    * primitive arrays, the B(B+1)/2 block PAIRS join declaratively
    * (blkA <= blkB — a broadcast of B tiny block headers), and each
    * block-pair task runs the tight dot-product loop. Scale knobs: block
    * size is |data|/B, so B grows with the corpus to keep two blocks per
    * task in executor memory; task count B(B+1)/2 grows quadratically,
    * keeping every executor busy. The all-pairs compare is inherently
    * O(n^2) — the LSH-bucketed variant in Similarity is the sublinear
    * path when a threshold permits pruning. */
  def embCosinePairs(s: SparkSession, d: String): DataFrame =
    embCosinePairsAt(s, d, 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos0"), 5).as("cos"))
      .orderBy("id_a", "id_b")

  /** [[embCosinePairs]]'s block-nested exact pair join at an arbitrary
    * cosine threshold, cosines UNROUNDED (`cos0`) — the shared exact
    * eps-neighborhood generator (density clustering thresholds on the
    * raw value, exactly as its oracle does). */
  private[graft] def embCosinePairsAt(
      s: SparkSession, d: String, minCos: Double): DataFrame = {
    import s.implicits._
    val numBlocks = 8
    val blocks = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .groupByKey { case (id, _) => (id % numBlocks).toInt }
      .mapGroups { (blk, it) =>
        val rows = it.toArray.sortBy(_._1)
        val dim = if (rows.isEmpty) 0 else rows(0)._2.length
        val ids = rows.map(_._1)
        val flat = new Array[Double](rows.length * dim)
        var i = 0
        while (i < rows.length) {
          val v = rows(i)._2
          var k = 0
          while (k < dim) { flat(i * dim + k) = v(k); k += 1 }
          i += 1
        }
        VecBlock(blk, dim, ids, flat)
      }
      // pinned: the block-nested self-join consumes it twice — unpinned,
      // the parse+pack mapGroups runs once per side (see pinShared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    blocks.count()
    blocks.as("a")
      .joinWith(blocks.as("b"), col("a.blk") <= col("b.blk"))
      .flatMap { case (a, b) =>
        val dim = a.dim
        def norms(blk: VecBlock): Array[Double] =
          Array.tabulate(blk.ids.length) { i =>
            var acc = 0.0
            var k = 0
            while (k < dim) { val x = blk.flat(i * dim + k); acc += x * x; k += 1 }
            math.sqrt(acc)
          }
        val na = norms(a); val nb = norms(b)
        val same = a.blk == b.blk
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        var i = 0
        while (i < a.ids.length) {
          var j = if (same) i + 1 else 0
          while (j < b.ids.length) {
            var acc = 0.0
            var k = 0
            while (k < dim) { acc += a.flat(i * dim + k) * b.flat(j * dim + k); k += 1 }
            val cos = acc / (na(i) * nb(j))
            if (cos >= minCos) {
              val ia = a.ids(i); val ib = b.ids(j)
              out += (if (ia < ib) (ia, ib, cos) else (ib, ia, cos))
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("id_a", "id_b", "cos0")
  }

  // ---- end-to-end corpus cleaning (the composed training-data pipeline) ----

  /** The full cleaning pipeline a pretraining corpus runs, composed from
    * the oracle-checked stages: exact dedup (keep min doc_id per
    * normalized-content hash) -> near-dup removal (drop the larger id of
    * every exact-Jaccard >= 0.5 pair) -> quality filter (the text_stats
    * score >= 0.5). One summary row with per-stage survivor counts and
    * kept-corpus stats; every stage is SQL-expressible, so the WHOLE
    * pipeline is DuckDB-oracle-checked end to end.
    *
    * Scale shape: one scan + one hash window for the exact stage, the
    * prefix-filtered Jaccard join for pairs (see [[jaccard]]), one
    * broadcast-able anti join of the tiny id_b set, map-side quality
    * expressions, single final aggregate. */
  def corpusClean(s: SparkSession, d: String): DataFrame = {
    val stopwords = Seq("the", "a", "an", "and", "or", "of", "in",
      "on", "to", "is", "are", "was", "for", "with", "by", "at", "from")
    val docs = Tables.documents(s, d)
      .withColumn("h", md5(lower(trim(col("text")))))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val dropB = jaccard(s, d).select(col("id_b").as("doc_id")).distinct()
    val toks = size(split(col("text"), " "))
    val stopHits = size(filter(split(col("text"), " "),
      t => t.isin(stopwords: _*)))
    val punct = length(col("text")) -
      length(regexp_replace(col("text"), "[\\.,;:!\\?]", ""))
    val quality = round(
      lit(0.4) * (stopHits.cast("double") / toks) +
        lit(0.3) * least(lit(1.0), toks.cast("double") / 50) +
        lit(0.3) * (lit(1.0) - punct.cast("double") / length(col("text"))), 4)
    val flagged = docs
      .withColumn("rn", row_number().over(w))
      // the near-dup id set is tiny relative to the corpus — broadcast
      // it so the left join adds no shuffle of the full document set
      .join(broadcast(dropB.withColumn("is_dup", lit(1))), Seq("doc_id"), "left")
      .withColumn("exact_kept", col("rn") === 1)
      .withColumn("near_kept", col("exact_kept") && col("is_dup").isNull)
      .withColumn("n_tokens", toks)
      .withColumn("quality", quality)
      .withColumn("final_kept", col("near_kept") && col("quality") >= 0.5)
    flagged.agg(
      count(lit(1)).as("n_input"),
      sum(when(col("exact_kept"), 1).otherwise(0)).as("n_exact_kept"),
      sum(when(col("near_kept"), 1).otherwise(0)).as("n_near_kept"),
      sum(when(col("final_kept"), 1).otherwise(0)).as("n_final"),
      round(avg(when(col("final_kept"), col("quality"))), 4).as("avg_quality"),
      sum(when(col("final_kept"), col("n_tokens"))).as("total_tokens"))
  }

  /** Multi-signal ("ensemble") near-dup pairs: the union of the exact
    * shingle-Jaccard pairs and the exact embedding-cosine pairs, with a
    * provenance column saying which signal(s) flagged the pair — the
    * standard shape when a cleaning pipeline combines a lexical and a
    * semantic detector and routes by agreement. FULL OUTER join on the
    * pair key: both inputs are pair-sized (tiny vs the corpus), so the
    * join cost is negligible next to the detectors themselves. */
  def ensemblePairs(s: SparkSession, d: String): DataFrame = {
    val txt = jaccard(s, d)
      .select(col("id_a"), col("id_b"), lit(true).as("by_text"))
    val emb = embCosinePairs(s, d)
      .select(col("id_a"), col("id_b"), lit(true).as("by_emb"))
    txt.join(emb, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        when(coalesce(col("by_text"), lit(false)) &&
          coalesce(col("by_emb"), lit(false)), "both")
          .when(coalesce(col("by_text"), lit(false)), "text")
          .otherwise("embedding").as("src"))
      .orderBy("id_a", "id_b")
  }

  /** Benchmark decontamination — the check a training pipeline runs
    * before release: which training documents share >= 2 distinct
    * 5-gram shingles with any EVAL document (here the deterministic
    * holdout doc_id < 10)?
    *
    * Scale shape: the eval shingle table is eval-sized (tiny) and
    * BROADCAST; the corpus side explodes its shingles but the
    * broadcast hash join filters them at the explode site, so nothing
    * corpus-sized ever shuffles — the standard n-gram-overlap
    * decontamination plan (ref: GPT-3 App. C methodology, public
    * paper). */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val n = 5
    def shingled(df: DataFrame, idAs: String): DataFrame = df
      .select(col("doc_id").as(idAs), split(col("text"), " ").as("t"))
      // docs shorter than one shingle contribute nothing — and must be
      // filtered BEFORE the transform: Spark's sequence(1, 0) counts
      // DOWN (yielding a slice(t, 0, n) crash), where DuckDB's
      // generate_series(1, 0) is empty
      .filter(size(col("t")) >= n)
      .select(col(idAs), explode(array_distinct(
        expr(s"""transform(sequence(1, size(t) - ${n - 1}),
           i -> concat_ws(' ', slice(t, i, $n)))"""))).as("sh"))
    val docs = Tables.documents(s, d)
    val eval5 = shingled(docs.filter(col("doc_id") < 10), "eval_id")
    val train = shingled(docs.filter(col("doc_id") >= 10), "train_id")
    train.join(broadcast(eval5), "sh")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("train_id", "eval_id")
  }

  /** EXACT substring dedup — the "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022) operator: find every
    * K-token gram that occurs more than once ANYWHERE in the corpus and
    * report, per document, how many gram positions and how many tokens
    * sit inside such repeated substrings (the spans that pipeline would
    * cut). K = 8 here, proportionate to the gate corpus's short docs
    * (the paper uses 50 on web text).
    *
    * Spark-first shape instead of the paper's suffix array: documents
    * explode into (doc, pos, gramhash) — positions come from one
    * `transform(sequence(...))` over the token array, hashing INSIDE the
    * lambda so only the 8-byte gram hash leaves the row, never the gram
    * text; a corpus-wide hash aggregate counts gram occurrences; grams
    * with count >= 2 join back to mark spans; interval-union coverage is
    * an explode + distinct per doc. Every stage is a partial+final hash
    * agg or an equi-join on the gram hash — the same shuffle class as
    * word-count, at any corpus size (the suffix array's O(n log n)
    * global sort would be strictly worse on a cluster). At 100 TB the
    * count>=2 filter drops the (huge) singleton tail BEFORE the
    * join-back, so the marking join carries only repeated grams — for
    * extra headroom a Bloom/count-min prefilter on gram hashes would
    * cut the aggregate's shuffle too, at the cost of exactness. */
  def substringDedup(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .persist()
    val grams = docs
      .filter(size(col("t")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(t) - ${K - 1}),
            i -> md5(concat_ws(' ', slice(t, i, $K))))"""))
        .as(Seq("gidx", "ghex")))
      .select(col("doc_id"), (col("gidx") + 1).as("gpos"),
        graft.util.Md5Lower64.of("ghex").as("g"))
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val marked = grams.join(dupG, "g").persist()
    val ndg = marked.groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    val cov = marked
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + (K - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    val out = docs.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(ndg, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 4).as("dup_ratio"))
      .orderBy("doc_id")
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> (substringDedup _),
    "dedup_contamination" -> (contamination _),
    "dedup_exact" -> (exact _),
    "dedup_paragraph" -> (paragraphDedup _),
    "dedup_jaccard" -> (jaccard _),
    "dedup_jaccard_curve" -> (jaccardCurve _),
    "dedup_containment" -> (containment _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_simhash" -> (simhash _),
    "dedup_emb_cosine" -> (embCosinePairs _),
    "dedup_pipeline" -> (corpusClean _),
    "dedup_clusters" -> (dupClusters _),
    "dedup_simhash_rel" -> (simhashRel _),
    "dedup_ensemble" -> (ensemblePairs _),
    "dedup_incremental" -> (incrementalNearDup _),
    "corpus_diff" -> (corpusDiff _),
    "split_leakage_safe" -> (splitLeakageSafe _),
    "dedup_keep_best" -> (keepBest _),
    "dedup_paragraph_rewrite" -> (paragraphRewrite _))

  /** Oracles of dataset `d`: the static entries plus the simhash-kernel
    * oracle over `d`'s vocabulary. */
  def oracles(s: SparkSession, d: String): Map[String, String] =
    staticOracles ++ simhashKernelOracle(s, d)

  /** Mirror of the [[simhash]] kernel with the Spark-computed token
    * hashes as a VALUES literal: occurrence-weighted bit votes (the
    * kernel votes per word occurrence, unlike simhashRel's distinct),
    * 4x16-bit banding with NO bucket cap (the kernel has none), hamming
    * <= 8 on the full 64 bits via the 4 band xors. */
  private def simhashKernelOracle(s: SparkSession, d: String): Map[String, String] =
    simhashVocab(s, d).map { th =>
      val values = th.map { case (t, h) =>
        s"('${t.replace("'", "''")}', CAST($h AS BIGINT))"
      }.mkString(",\n             ")
      "dedup_simhash" ->
        s"""WITH th_map(tok, h) AS (VALUES
             $values),
           toks AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
           th AS (SELECT doc_id, m.h FROM toks JOIN th_map m USING (tok)),
           votes AS (
             SELECT doc_id, b.i,
               sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
             FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) b
             GROUP BY 1, 2),
           bands AS (
             SELECT doc_id, CAST(i // 16 AS INTEGER) AS band,
               CAST(sum(CASE WHEN v > 0 THEN 1 << (i % 16) ELSE 0 END)
                 AS BIGINT) AS bv
             FROM votes GROUP BY 1, 2),
           piv AS (
             SELECT doc_id,
               max(CASE WHEN band = 0 THEN bv END) AS b0,
               max(CASE WHEN band = 1 THEN bv END) AS b1,
               max(CASE WHEN band = 2 THEN bv END) AS b2,
               max(CASE WHEN band = 3 THEN bv END) AS b3
             FROM bands GROUP BY 1),
           cand AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
           scored AS (
             SELECT id_a, id_b,
               bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1)) +
               bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
                 AS dist
             FROM cand
             JOIN piv pa ON pa.doc_id = id_a
             JOIN piv pb ON pb.doc_id = id_b)
           SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist
           FROM scored WHERE dist <= 8 ORDER BY id_a, id_b"""
    }.toMap

  /** Shared oracle CTE block of the shingle-dedup family: `sh(doc_id,
    * sh)`, each doc's distinct 3-word shingles as strings, and
    * `sz(doc_id, sz)`, their count — the sets the Spark side hashes.
    * Interpolated after `WITH` (or `WITH RECURSIVE`) by every oracle
    * that replays [[Shingles]]. */
  private val shingleCtes: String =
    """toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         sh3 AS (
           SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
           FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         sh AS (SELECT DISTINCT doc_id, sh FROM sh3 WHERE sh IS NOT NULL
                AND len(string_split(sh, ' ')) = 3),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""

  /** Shared oracle CTE block: [[shingleCtes]] → exact Jaccard pairs at
    * J >= 0.5 → transitive closure (recursive CTE; UNION dedups, so it
    * terminates) → `lab(doc_id, rep)`, the min-label component map.
    * Interpolated after `WITH RECURSIVE` by the dedup_clusters and
    * split_leakage_safe oracles so both replay ONE definition. */
  private val jaccClosureCtes: String =
    s"""$shingleCtes,
         inter AS (
           SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE i / (za.sz + zb.sz - i) >= 0.5),
         e AS (SELECT id_a AS a, id_b AS b FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         lab AS (SELECT a AS doc_id, least(a, min(b)) AS rep
                 FROM reach GROUP BY a)"""

  /** Exact shingle-Jaccard pairs `(id_a, id_b, jac)` at J >= 0.5: the
    * dedup_jaccard oracle, and dedup_minhash_lsh's (see there). */
  private val jaccardOracle: String =
    s"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(i / (za.sz + zb.sz - i), 4) AS jac
         FROM inter
         JOIN sz za ON za.doc_id = id_a
         JOIN sz zb ON zb.doc_id = id_b
         WHERE i / (za.sz + zb.sz - i) >= 0.5
         ORDER BY id_a, id_b"""

  private[graft] val staticOracles: Map[String, String] = Map(
    "corpus_diff" ->
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
         a AS (SELECT doc_id, lang, length(text) AS len, md5(text) AS h
               FROM documents),
         bk AS (SELECT doc_id, lang,
                  CASE WHEN doc_id % 17 = 3 THEN text || ' [rev2]'
                       ELSE text END AS t
                FROM documents WHERE doc_id % 23 <> 5),
         ba AS (SELECT mx.max_id + doc_id + 1 AS doc_id, lang,
                  text || ' (mirror)' AS t
                FROM documents CROSS JOIN mx WHERE doc_id % 41 = 7),
         b AS (SELECT doc_id, lang, length(t) AS len, md5(t) AS h FROM bk
               UNION ALL
               SELECT doc_id, lang, length(t) AS len, md5(t) AS h FROM ba)
         SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN b.h IS NULL THEN 'removed'
                WHEN a.h IS NULL THEN 'added'
                ELSE 'modified' END AS status,
           coalesce(a.lang, b.lang) AS lang,
           a.len AS chars_old, b.len AS chars_new
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         WHERE a.h IS NULL OR b.h IS NULL OR a.h <> b.h
         ORDER BY doc_id""",
    "dedup_jaccard_curve" ->
      s"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b, round(i / (za.sz + zb.sz - i), 4) AS jac
           FROM inter
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE i / (za.sz + zb.sz - i) >= 0.5),
         th AS (SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[]))
                  AS threshold),
         hit AS (
           SELECT th.threshold, p.id_a, p.id_b
           FROM th JOIN pairs p ON p.jac >= th.threshold),
         np AS (SELECT threshold, count(*) AS n_pairs FROM hit GROUP BY 1),
         nd AS (
           SELECT threshold, count(DISTINCT doc) AS n_docs
           FROM (SELECT threshold, unnest([id_a, id_b]) AS doc FROM hit)
           GROUP BY 1)
         SELECT th.threshold,
           CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
         FROM th
         LEFT JOIN np ON np.threshold = th.threshold
         LEFT JOIN nd ON nd.threshold = th.threshold
         ORDER BY th.threshold""",
    "dedup_containment" ->
      s"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         dir AS (
           SELECT id_a, id_b, za.sz AS sz_a, zb.sz AS sz_b, i
           FROM inter
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE za.sz < zb.sz OR (za.sz = zb.sz AND id_a < id_b))
         SELECT id_a, id_b, CAST(sz_a AS BIGINT) AS sz_a,
           CAST(sz_b AS BIGINT) AS sz_b,
           round(CAST(i AS DOUBLE) / sz_a, 4) AS containment
         FROM dir WHERE CAST(i AS DOUBLE) / sz_a >= 0.7
         ORDER BY id_a, id_b""",
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents),
         g AS (
           SELECT doc_id, i AS gpos,
             CAST(md5_number_lower(array_to_string(toks[i:i+7], ' '))
               & 9223372036854775807 AS BIGINT) AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7))
             AS i) s),
         cnt AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
         dup AS (SELECT g.doc_id, g.gpos
                 FROM g JOIN cnt USING (g) WHERE cnt.c >= 2),
         ndg AS (SELECT doc_id, count(*) AS n_dup_grams FROM dup GROUP BY 1),
         cov AS (
           SELECT doc_id, count(DISTINCT p) AS n_dup_tokens
           FROM dup, LATERAL (SELECT unnest(generate_series(gpos, gpos + 7))
             AS p) s
           GROUP BY 1),
         base AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                  FROM documents)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(ndg.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(cov.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           round(CAST(coalesce(cov.n_dup_tokens, 0) AS DOUBLE)
             / b.n_tokens, 4) AS dup_ratio
         FROM base b
         LEFT JOIN ndg ON b.doc_id = ndg.doc_id
         LEFT JOIN cov ON b.doc_id = cov.doc_id
         ORDER BY b.doc_id""",
    "dedup_contamination" ->
      """WITH sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(t) - 4, 0)),
             i -> array_to_string(t[i:i+4], ' ')))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS t
                 FROM documents)),
         ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id < 10),
         tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id >= 10)
         SELECT train_id, eval_id, count(*) AS n_shared
         FROM tr JOIN ev USING (sh)
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY 1, 2""",
    "dedup_paragraph" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         paras AS (
           SELECT doc_id, i.i AS pos,
             array_to_string(toks[i.i * 10 + 1 : i.i * 10 + 10], ' ') AS para
           FROM toks, LATERAL (SELECT unnest(
             range((len(toks) - 1) // 10 + 1)) AS i) i),
         h AS (
           SELECT doc_id, pos, para, md5(para) AS h
           FROM paras WHERE len(para) > 0),
         marked AS (
           SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           FROM h)
         SELECT doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_paras,
           CAST(sum(CASE WHEN rn = 1 THEN len(para) ELSE 0 END) AS BIGINT)
             AS kept_chars
         FROM marked GROUP BY doc_id ORDER BY doc_id""",
    "dedup_paragraph_rewrite" ->
      // the dedup_paragraph marking CTEs, then reassembly in pos order;
      // the 63-bit portable hash certifies the rewritten text itself
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         paras AS (
           SELECT doc_id, i.i AS pos,
             array_to_string(toks[i.i * 10 + 1 : i.i * 10 + 10], ' ') AS para
           FROM toks, LATERAL (SELECT unnest(
             range((len(toks) - 1) // 10 + 1)) AS i) i),
         h AS (
           SELECT doc_id, pos, para, md5(para) AS h
           FROM paras WHERE len(para) > 0),
         marked AS (
           SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           FROM h),
         rw AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(para, ' ' ORDER BY pos) AS new_text
           FROM marked WHERE rn = 1 GROUP BY doc_id)
         SELECT doc_id, n_kept,
           CAST(length(new_text) AS BIGINT) AS new_chars,
           CAST(md5_number_lower(new_text)
             & 9223372036854775807 AS BIGINT) AS new_h
         FROM rw ORDER BY doc_id""",
    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
         r AS (SELECT h, row_number() OVER (PARTITION BY h ORDER BY doc_id) rn FROM h)
         SELECT count(*) AS n_docs, count(DISTINCT h) AS n_unique,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         FROM r""",
    "dedup_jaccard" -> jaccardOracle,
    // Same oracle as dedup_jaccard: LSH candidates are VERIFIED with the
    // exact Jaccard, so the output equals the exact join whenever banding
    // recall is 1.0 — which it is on the gate datasets (checked at
    // sf0.001 and sf0.01); the oracle thus also asserts the recall
    // contract, not just the verify step.
    "dedup_minhash_lsh" -> jaccardOracle,
    "dedup_pipeline" ->
      raw"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dropb AS (
           SELECT DISTINCT id_b AS doc_id FROM inter
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE i / (za.sz + zb.sz - i) >= 0.5),
         flags AS (
           SELECT d.doc_id,
             row_number() OVER (PARTITION BY md5(lower(trim(text)))
               ORDER BY d.doc_id) = 1 AS exact_kept,
             dropb.doc_id IS NULL AS not_dup,
             len(string_split(text, ' ')) AS n_tokens,
             round(0.4 * (CAST(len(list_filter(string_split(text, ' '),
                 x -> list_contains(['the','a','an','and','or','of','in','on',
                   'to','is','are','was','for','with','by','at','from'], x)))
                 AS DOUBLE) / len(string_split(text, ' ')))
               + 0.3 * least(1.0,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) / 50)
               + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text,
                   '[\.,;:!\?]', '', 'g')) AS DOUBLE) / length(text)), 4)
               AS quality
           FROM documents d LEFT JOIN dropb ON d.doc_id = dropb.doc_id),
         f2 AS (
           SELECT *, exact_kept AND not_dup AS near_kept,
             exact_kept AND not_dup AND quality >= 0.5 AS final_kept
           FROM flags)
         SELECT count(*) AS n_input,
           CAST(sum(CASE WHEN exact_kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_kept,
           CAST(sum(CASE WHEN near_kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_near_kept,
           CAST(sum(CASE WHEN final_kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_final,
           round(avg(CASE WHEN final_kept THEN quality END), 4) AS avg_quality,
           CAST(sum(CASE WHEN final_kept THEN n_tokens END) AS BIGINT)
             AS total_tokens
         FROM f2""",
    "dedup_incremental" ->
      s"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id corpus_id, b.doc_id new_id, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh
           WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
           GROUP BY 1, 2)
         SELECT corpus_id, new_id,
           round(i / (za.sz + zb.sz - i), 4) AS jac
         FROM inter
         JOIN sz za ON za.doc_id = corpus_id
         JOIN sz zb ON zb.doc_id = new_id
         WHERE i / (za.sz + zb.sz - i) >= 0.5
         ORDER BY corpus_id, new_id""",
    "dedup_clusters" ->
      // same pair CTE as dedup_jaccard, then transitive closure via a
      // recursive CTE (UNION dedups, so it terminates) and min-label per
      // component — the SQL statement of connected components
      s"""WITH RECURSIVE $jaccClosureCtes
         SELECT rep AS cluster_rep, count(*) AS csize,
           string_agg(doc_id, ',' ORDER BY doc_id) AS members
         FROM lab GROUP BY rep ORDER BY cluster_rep""",
    "dedup_keep_best" ->
      // same closure CTEs; quality verdict replayed as in
      // text_quality_filters, per-cluster argmax via row_number
      s"""WITH RECURSIVE $jaccClosureCtes,
         tq AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sig AS (
           SELECT doc_id, len(toks) AS n_words,
             round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / len(toks), 4) AS mean_wlen,
             len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','or','of','in','on','to','is'], x)))
               AS stop_hits
           FROM tq),
         kq AS (
           SELECT doc_id, n_words,
             (n_words >= 20 AND n_words <= 200 AND mean_wlen >= 3.0
              AND mean_wlen <= 8.0 AND stop_hits >= 1) AS keep
           FROM sig),
         m AS (
           SELECT lab.rep AS cluster_rep, kq.doc_id, kq.n_words, kq.keep,
             row_number() OVER (PARTITION BY lab.rep
               ORDER BY kq.keep DESC, kq.n_words DESC, kq.doc_id ASC) AS rk
           FROM lab JOIN kq ON kq.doc_id = lab.doc_id),
         cs AS (SELECT cluster_rep, count(*) AS csize FROM m GROUP BY 1)
         SELECT m.cluster_rep, cs.csize, m.doc_id AS keep_id,
           CAST(m.n_words AS BIGINT) AS keep_n_words,
           m.keep AS keep_passes
         FROM m JOIN cs ON cs.cluster_rep = m.cluster_rep
         WHERE m.rk = 1 ORDER BY m.cluster_rep""",
    "split_leakage_safe" ->
      // same closure CTEs; rep-keyed portable hash assigns the split
      s"""WITH RECURSIVE $jaccClosureCtes,
         wrep AS (
           SELECT d.doc_id, coalesce(lab.rep, d.doc_id) AS rep
           FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
         bk AS (
           SELECT doc_id, rep,
             CAST(CAST(md5_number_lower(CAST(rep AS VARCHAR))
               & 9223372036854775807 AS BIGINT) % 100 AS INTEGER) AS bucket
           FROM wrep)
         SELECT doc_id, rep, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'validation'
                ELSE 'test' END AS split
         FROM bk ORDER BY doc_id""",
    "dedup_simhash_rel" ->
      // exact mirror of simhashRel: md5_number_lower is the same 64-bit
      // value Spark assembles from the md5 hex (last 8 bytes, LE)
      """WITH toks AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
         votes AS (
           SELECT doc_id, b.i,
             sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) b
           GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, CAST(i // 16 AS INTEGER) AS band,
             CAST(sum(CASE WHEN v > 0 THEN 1 << (i % 16) ELSE 0 END)
               AS BIGINT) AS bv
           FROM votes GROUP BY 1, 2),
         piv AS (
           SELECT doc_id,
             max(CASE WHEN band = 0 THEN bv END) AS b0,
             max(CASE WHEN band = 1 THEN bv END) AS b1,
             max(CASE WHEN band = 2 THEN bv END) AS b2,
             max(CASE WHEN band = 3 THEN bv END) AS b3
           FROM bands GROUP BY 1),
         pruned AS (
           SELECT * FROM (
             SELECT doc_id, band, bv,
               count(*) OVER (PARTITION BY band, bv) AS bsz
             FROM bands) WHERE bsz <= 64),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM pruned a JOIN pruned b
             ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         scored AS (
           SELECT id_a, id_b,
             bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1)) +
             bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
               AS dist
           FROM cand
           JOIN piv pa ON pa.doc_id = id_a
           JOIN piv pb ON pb.doc_id = id_b)
         SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist
         FROM scored WHERE dist <= 8 ORDER BY id_a, id_b""",
    "dedup_emb_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 5) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         ORDER BY id_a, id_b""",
    "dedup_ensemble" ->
      s"""WITH $shingleCtes,
         inter AS (
           SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         tp AS (
           SELECT id_a, id_b FROM inter
           JOIN sz za ON za.doc_id = id_a
           JOIN sz zb ON zb.doc_id = id_b
           WHERE i / (za.sz + zb.sz - i) >= 0.5),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ep AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
         SELECT coalesce(tp.id_a, ep.id_a) AS id_a,
           coalesce(tp.id_b, ep.id_b) AS id_b,
           CASE WHEN tp.id_a IS NOT NULL AND ep.id_a IS NOT NULL THEN 'both'
                WHEN tp.id_a IS NOT NULL THEN 'text'
                ELSE 'embedding' END AS src
         FROM tp FULL OUTER JOIN ep
           ON tp.id_a = ep.id_a AND tp.id_b = ep.id_b
         ORDER BY id_a, id_b""")
}
