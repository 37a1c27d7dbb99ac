package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are pure
  * DataFrame/column-expression plans (no UDFs, no driver-side loops) so
  * they distribute: the only shuffles are the groupBy on fingerprint /
  * (band, signature) buckets and the bucket self-join, which is the
  * textbook LSH scale path — candidate pairs per bucket instead of the
  * O(n^2) cross join.
  *
  * Determinism: every hash is md5 over explicit strings, so results are
  * partition- and retry-independent (the same stance as the reference's
  * zero-seeded hashing, reference: src/combiners/distinct.rs:232-246).
  */
object Dedup {

  /** Intersection size of two sorted-distinct token arrays via the
    * native merge-scan expression ([[graft.expressions.SortedIntersectSize]]):
    * O(n+m) per pair with no result-array allocation, vs
    * `size(array_intersect(...))` which materializes the intersection
    * just to count it. With sorted distinct inputs the union size is
    * then `size(a) + size(b) - n_inter` — no `array_union` either.
    */
  private def sortedIntersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.SortedIntersectSize(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)
      )
    )

  /** Exact dedup groups: content fingerprint -> surviving (min) id and
    * duplicate count. `groupBy` over a hash key is a plain hash
    * aggregate with map-side partial combine — the 100 TB-safe shape.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      // null text has no content to fingerprint: md5(null) is NULL and
      // groupBy would declare every null-text doc an exact duplicate of
      // every other — unknown contents are not duplicates, drop them
      .where(col(textCol).isNotNull)
      .select(md5(col(textCol).cast("binary")).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** MinHash signatures, wide form: one row per doc, one long column
    * `sig<i>` per hash function — the min over the doc's word
    * 2-shingles of the i-th double-hashing value derived from one md5
    * per shingle (see [[graft.expressions.MinHashSignatures]]).
    * The whole signature is ONE native
    * per-row expression ([[graft.expressions.MinHashSignatures]]): no
    * shingle explode, no shuffle, no aggregation buffers — a narrow
    * projection whose cost is linear in corpus bytes, the shape that
    * survives a 100 TB corpus. Docs with fewer than two tokens have no
    * shingles and are dropped (same as the explode+groupBy form).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame = {
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.MinHashSignatures(
        org.apache.spark.sql.graftbridge.Bridge.expression(split(col(textCol), " ")),
        numHashes))
    docs
      // "has at least one 2-shingle" as a CHEAP input-side predicate,
      // not `size(sigs) > 0`: Catalyst would push the latter below the
      // projection by alias substitution and evaluate the full
      // numHashes-x-shingles hash expression twice per row (once in
      // the Filter, once in the Project). The predicate is
      // contains-a-space rather than `size(split(text)) >= 2`: split
      // on the single-space separator yields >= 2 tokens iff the text
      // contains at least one separator occurrence (every space adds
      // one element, trailing empties kept with limit -1), and
      // contains() is one byte scan where split allocates the whole
      // token array per row a SECOND time just to count it.
      .where(col(textCol).isNotNull && col(textCol).contains(" "))
      .select(col(idCol), sig.as("sigs"))
      .select(col(idCol) +: (0 until numHashes).map(i => element_at(col("sigs"), i + 1).as(s"sig$i")): _*)
  }

  /** The banding bucket-key column names: `band` plus the band's
    * `rowsPerBand` raw signature values.
    */
  private def bandKeyCols(rowsPerBand: Int): Seq[String] =
    "band" +: (0 until rowsPerBand).map(r => s"s$r")

  /** Shared banding layout for every LSH pair generator: one
    * (id, band, s0..s{rowsPerBand-1}) row per band per doc. The
    * id-notnull filter is explicit (not left to join-predicate
    * inference) so every consumer's subtree canonicalizes identically
    * and ReuseExchange can share the signature computation across
    * branches. Centralized because the skew-safe/default generators'
    * same-candidate-set contract depends on their banding never
    * diverging.
    */
  private def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int
  ): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand) — " +
        "trailing signatures would be silently dropped from the banding")
    val nBands = numHashes / rowsPerBand
    // stack the band signature tuples into (id, band, s0..s{rowsPerBand-1}) rows
    val stackArgs = (0 until nBands).flatMap { b =>
      b.toString +: (0 until rowsPerBand).map(r => s"sig${b * rowsPerBand + r}")
    }
    minhashSignatures(docs.where(col(idCol).isNotNull), idCol, textCol, numHashes)
      .select(col(idCol), expr(
        s"stack($nBands, ${stackArgs.mkString(", ")}) AS (${bandKeyCols(rowsPerBand).mkString(", ")})"))
  }

  /** LSH banding over minhash signatures: the `rowsPerBand` signature
    * values of each band, kept as RAW LONGS, form the bucket key; docs
    * sharing any (band, sig...) bucket are candidate near-duplicates.
    * Numeric keys keep the shuffle rows narrow (a handful of longs per
    * row, no hex strings) and need no per-band re-hash. The bands
    * self-join's two ENSURE_REQUIREMENTS exchanges (hash partitioning
    * on the bucket key) canonicalize identically, so Spark's
    * ReuseExchange computes the signature subtree ONCE
    * (shuffle-file-backed — no cache memory, no materialization job,
    * survives executor loss at scale). Deliberately NOT an explicit
    * `repartition`: REPARTITION_BY_COL pins user-specified
    * partitioning, which forbids AQE from splitting skewed bucket
    * partitions — and LSH buckets over a duplicate-heavy crawl are
    * exactly where skew lives. The join is hinted shuffle-hash: a hash
    * join probes the reused shuffle files directly, where the default
    * sort-merge would fully sort both sides and the AQE broadcast
    * conversion would add a build barrier — per-partition build memory
    * is bounded by the bucket rows in that partition, which
    * shuffle-partition sizing already governs at scale. Per-bucket
    * pairs instead of an O(n^2) cross join — the textbook LSH scale
    * path. When a corpus carries extreme duplication (mega-buckets
    * whose quadratic pair OUTPUT would serialize in one task — a skew
    * AQE cannot see, since it triggers on input bytes), use
    * [[lshCandidatePairsSkewSafe]].
    */
  def lshCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2
  ): DataFrame = {
    val keyCols = bandKeyCols(rowsPerBand)
    val bands = bandedSignatures(docs, idCol, textCol, numHashes, rowsPerBand)
    val a = bands.select(col(idCol).as("a_id") +: keyCols.map(col): _*)
    val b = bands.select(col(idCol).as("b_id") +: keyCols.map(col): _*)
    a.join(b.hint("shuffle_hash"), keyCols)
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Skew-safe LSH candidate pairs: same candidate set as
    * [[lshCandidatePairs]], but each bucket's quadratic pair output is
    * spread over `nGroups*(nGroups+1)/2` tasks instead of one.
    *
    * Why it exists: a co-partitioned self-join puts ALL rows of a
    * bucket in one partition, so a mega-bucket of k near-identical
    * docs emits its k^2/2 pairs from a single task — and AQE's skew
    * split cannot help, because it triggers on input partition BYTES
    * while this skew lives in the join OUTPUT (`ScaleLawSpec`'s
    * all-near-dup replicas grow candidate pairs N²-fold). The classic
    * remedy is triangle distribution: give every row a deterministic
    * group g = hash(id) mod G, replicate each row
    * to the G unordered block pairs {g, b}, join on
    * (bucket, blockLo, blockHi), and keep a pair only in the ONE block
    * that equals its own group pair — so each pair is emitted exactly
    * once and a bucket's output fans out over G(G+1)/2 tasks for a Gx
    * replication of its input rows. Input replication is linear in G;
    * output (the quadratic term) splits as 1/G^2 per task.
    *
    * Use when duplication is expected to be extreme (boilerplate
    * floods, un-collapsed mirrors); [[nearDuplicatesCollapsed]] removes
    * exact-dup mass first and is the better default.
    */
  def lshCandidatePairsSkewSafe(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      nGroups: Int = 8
  ): DataFrame = {
    require(nGroups >= 1, s"nGroups must be >= 1, got $nGroups")
    val keyCols = bandKeyCols(rowsPerBand)
    val bands = bandedSignatures(docs, idCol, textCol, numHashes, rowsPerBand)
      .withColumn("g", pmod(hash(col(idCol)), lit(nGroups)))
      // row with group g participates in every unordered block {g, b}:
      // (min(g,b), max(g,b)) for all b — G blocks per row
      .withColumn("blk", explode(expr(
        s"transform(sequence(0, ${nGroups - 1}), b -> struct(least(g, b) AS lo, greatest(g, b) AS hi))")))
    val joinKeys = keyCols ++ Seq("blk")
    val a = bands.select((col(idCol).as("a_id") +: col("g").as("a_g") +: joinKeys.map(col)): _*)
    val b = bands.select((col(idCol).as("b_id") +: col("g").as("b_g") +: joinKeys.map(col)): _*)
    a.join(b.hint("shuffle_hash"), joinKeys)
      .where(col("a_id") < col("b_id"))
      // keep the pair only in the ONE block equal to its own group
      // pair — every other co-occurrence is a duplicate
      .where(col("blk.lo") === least(col("a_g"), col("b_g")) &&
             col("blk.hi") === greatest(col("a_g"), col("b_g")))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Exact repeated-span detection: every overlapping `spanTokens`-token
    * window that appears VERBATIM in at least `minDocs` distinct
    * documents, reported as one (id, start_pos, span_key) row per
    * occurrence (start_pos is 1-based in token units; span_key is the
    * opaque 64-bit window fingerprint — occurrences of the same span
    * share it). The exact-substring complement to MinHash: near-dup
    * banding finds documents that are mostly the same, while this finds
    * repeated boilerplate/quoted PASSAGES inside otherwise-different
    * documents — the remove-repeated-spans step of web-corpus curation.
    * [[repeatedSpansWithText]] re-derives the span TEXT for surviving
    * occurrences when a content-stable output is wanted.
    *
    * Plan shape: window fingerprints come from ONE O(tokens)-per-doc
    * pass ([[graft.expressions.RollingTokenHashes]] — each token hashed
    * once, windows roll in O(1)), and the generator explodes the
    * resulting (pos, key) pairs, so no shuffle ever carries span text
    * and no window ever builds one: the previous form concatenated the
    * span string and md5'd it PER WINDOW — a 128-bit crypto hash times
    * token count that existed only to be oracle-reproducible, and was
    * alone ~2x the whole query's DuckDB wall time. Rows into the
    * exchange are fixed-width (id, long, long) regardless of
    * `spanTokens`. The distinct-doc frequency per span is a WINDOW pair
    * over ONE exchange on span_key — `dense_rank` ordered by id, then
    * its per-span max — rather than an aggregate-and-rejoin: the
    * aggregate form's partial HashAggregate sits below its exchange, so
    * the two subtrees never canonicalize and the generator (the
    * dominant cost) executed TWICE. The window form runs the generator
    * once and shuffles the occurrence relation once; both Window
    * operators share the one exchange and sort. The trade is a
    * per-partition sort of fixed-width rows and losing AQE's join-side
    * skew split (windows cannot split a partition-key group) — a
    * mega-boilerplate span now sorts/spills in one task's disk-backed
    * buffer instead of fanning out, which is a straggler, not an OOM.
    * Span equality is 64-bit fingerprint equality over avalanched
    * per-token hashes (~2^-64 per window pair) — a collision can only
    * ADD a candidate occurrence, and the with-text surface re-derives
    * real content downstream.
    */
  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val keys = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.RollingTokenHashes(
        org.apache.spark.sql.graftbridge.Bridge.expression(split(col(textCol), " ")),
        spanTokens))
    val occurrences = docs
      // null text yields a null key array (generator emits nothing);
      // shorter-than-span docs yield an empty one — no count-based
      // pre-filter needed
      .where(col(idCol).isNotNull)
      .select(col(idCol), posexplode(keys).as(Seq("pos0", "span_key")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("start_pos"), col("span_key"))
    // distinct-doc count per span as max(dense_rank) over the one
    // span_key exchange: rank ties on equal ids, so the per-span max
    // IS countDistinct(id) — without the aggregate's partial-agg
    // subtree that would force a second run of the generator
    val bySpan = org.apache.spark.sql.expressions.Window.partitionBy("span_key")
    occurrences
      .withColumn("dr", dense_rank().over(bySpan.orderBy(col(idCol))))
      .withColumn("n_docs", max("dr").over(bySpan))
      .where(col("n_docs") >= minDocs)
      .select(col(idCol), col("start_pos"), col("span_key"))
  }

  /** [[repeatedSpans]] with the repeated span's TEXT re-derived, for
    * surfaces that need content-stable output (audit samples, oracle
    * grading) rather than the opaque 64-bit key. The re-derivation
    * joins the SURVIVING occurrences — typically a small fraction of
    * all windows — back to the corpus on id and slices the span out of
    * a fresh tokenization, so the expensive candidate path stays
    * hash-only and the per-row string work scales with matches, not
    * windows. Output: (id, start_pos, span_text).
    */
  def repeatedSpansWithText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, spanTokens, minDocs)
      .select(col(idCol), col("start_pos"))
    val toks = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("rs_toks"))
    spans.join(toks, Seq(idCol))
      .select(col(idCol), col("start_pos"),
        concat_ws(" ",
          slice(col("rs_toks"), col("start_pos").cast("int"), lit(spanTokens))).as("span_text"))
  }

  /** Cut repeated spans OUT of the corpus: drop every token covered by
    * any [[repeatedSpans]] occurrence and re-join the survivors —
    * detect-then-cut as one lazy plan. Output is (id, clean_text,
    * n_cut) where n_cut counts removed tokens; a doc whose text is
    * entirely repeated spans comes back as the empty string (still a
    * row — the caller decides whether to drop empties), and a null
    * text stays null. Null-id docs are dropped (they cannot join their
    * span list, same stance as [[graft.operators.Curation.capPerGroup]]).
    * The per-doc span list arrives via one collect_set aggregate
    * (bounded by spans-per-doc, not corpus size) and the cut itself is
    * one native merge-scan expression
    * ([[graft.expressions.CutSpannedTokens]]) — no second shuffle
    * beyond [[repeatedSpans]]'s own, O(tokens + spans) per row (the
    * sort_array feeds the expression's sorted-starts contract), and
    * the cut projection stays in whole-stage codegen where the
    * previous `filter`/`exists` HOF probe was interpreted
    * CodegenFallback at O(tokens × spans) — quadratic on the
    * all-distinct-spans template-page worst case.
    */
  def cutRepeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    val spanStarts = repeatedSpans(docs, idCol, textCol, spanTokens, minDocs)
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("start_pos"))).as("span_starts"))
    val cutExpr = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.CutSpannedTokens(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("cut_toks")),
        // docs outside every repeated span arrive with a NULL list from
        // the left join; the expression is null-intolerant, so feed it
        // the empty list ("cut nothing") instead
        org.apache.spark.sql.graftbridge.Bridge.expression(
          coalesce(col("span_starts"), expr("CAST(array() AS ARRAY<BIGINT>)"))),
        spanTokens))
    docs
      .where(col(idCol).isNotNull)
      .join(spanStarts, Seq(idCol), "left")
      // each non-trivial value lands in its own projection: the token
      // array is split ONCE and the merge scan evaluated ONCE —
      // CollapseProject's cheap-expression guard keeps the multiply-
      // referenced aliases from being inlined (and so re-evaluated)
      .select(col(idCol), col(textCol), col("span_starts"),
        split(col(textCol), " ").as("cut_toks"))
      .select(col(idCol), col(textCol), col("cut_toks"), cutExpr.as("span_kept"))
      .select(
        col(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("span_kept"))).as("clean_text"),
        when(col(textCol).isNull, lit(null).cast("int"))
          .otherwise(size(col("cut_toks")) - size(col("span_kept"))).as("n_cut"))
  }

  /** SimHash fingerprint (16-bit, one bit per leading hex digit of the
    * token md5): bit_j = sign of sum over tokens of (2*highbit_j - 1).
    * One native per-row expression
    * ([[graft.expressions.SimHashFingerprint]]) — a narrow projection
    * with nibble math on raw digest bytes: no token explode, no
    * shuffle, no per-doc aggregation state. Null-text docs are dropped
    * (same as exploding an empty token relation).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    docs
      .where(col(textCol).isNotNull)
      .select(
        col(idCol),
        // KnownNotNull: the fingerprint is non-null for EVERY non-null
        // text (SimHashFingerprint.compute totals to a value even on an
        // empty token array), and the row above just filtered the nulls
        // — but the logical plan cannot see that (Filter does not narrow
        // attribute nullability at the logical level), so without the
        // tag every banded consumer's `isNotNull` guard and every
        // inferred join-key null filter alias-substitutes the FULL
        // fingerprint expression into pushed-down Filter conjuncts and
        // re-evaluates the hash pass 2x more per row (measured: the
        // sf0.1 pairing scan carried graft_simhash 3x per row). With
        // the tag those guards fold to TRUE and the projection is the
        // one evaluation.
        org.apache.spark.sql.graftbridge.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.KnownNotNull(
            graft.expressions.SimHashFingerprint(
              org.apache.spark.sql.graftbridge.Bridge.expression(split(col(textCol), " ")),
              bits))).as("simhash"))

  /** The corpus fingerprint relation in the PUBLISHED side-index
    * schema — (doc_id, fp) — the rows [[publishFingerprintIndex]]
    * builds from and the rows an increment feeds to
    * [[SideIndex.update]], normalized here so the publisher, the
    * maintainer, and the streaming gate
    * ([[graft.streaming.Streams.nearDupAdmission]]'s index overload)
    * can never disagree on column names.
    */
  def fingerprintIndexRows(
      docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    simhash(docs, idCol, textCol, bits)
      .select(col(idCol).as("doc_id"), col("simhash").as("fp"))

  /** Publish the corpus SimHash relation as a segmented + tombstoned
    * [[SideIndex]] (flavor `simhash-<bits>`) — the batch half of the
    * online near-dup admission story: nightly build here, daily
    * increments via [[SideIndex.update]] over
    * [[fingerprintIndexRows]], erasures via [[SideIndex.delete]], and
    * the streaming gate serves the masked live set. Fingerprints are
    * ~16 bytes/doc: at 100 TB of corpus text this side table is tens
    * of GB — the whole point of gating on it instead of the text.
    */
  def publishFingerprintIndex(
      docs: DataFrame, idCol: String, textCol: String, bits: Int, path: String): Unit =
    SideIndex.build(fingerprintIndexRows(docs, idCol, textCol, bits),
      "doc_id", s"simhash-$bits", path)

  /** SimHash near-duplicate PAIRS — banded (pigeonhole) candidate
    * generation plus exact Hamming verification, the fingerprint-side
    * sibling of [[nearDuplicates]]: any two fingerprints within
    * `maxHamming` differing bits must agree EXACTLY on at least one of
    * `maxHamming + 1` disjoint bit bands (the differing bits cannot
    * touch every band), so candidates are same-(band, band-bits) join
    * matches — a hash-partitioned equality join over 2^bandWidth
    * buckets, never an all-pairs scan — and each candidate is verified
    * with the exact popcount of the XOR. The banding is EXHAUSTIVE by
    * construction (no recall loss, unlike MinHash-LSH's probabilistic
    * bands), which the DuckDB oracle checks against a literal all-pairs
    * Hamming scan. Output: (a_id, b_id, hamming), one row per
    * qualifying pair.
    *
    * Plan shape mirrors [[lshCandidatePairs]]: the fingerprint+band
    * subtree computes once and both self-join sides reuse its exchange
    * (shuffle-file-backed), the join is hinted shuffle-hash, and the
    * final distinct dedups pairs that matched in several bands. Rows
    * are (id, int, int, int) fixed width — the shuffle carries
    * fingerprints, never text.
    *
    * Scale note: the OUTPUT is inherently quadratic within groups of
    * near-identical fingerprints (every member pairs with every other —
    * a property of the pair relation itself, not the plan), so on a
    * duplication-heavy corpus run it over [[exactGroups]]
    * representatives first, exactly the [[nearDuplicatesCollapsed]]
    * composition: exact dups collapse to one keeper before any
    * quadratic pair list exists, and keeper pairs expand back
    * per-cluster if needed. Independently, UNRELATED documents chance-
    * collide at a rate quadratic in corpus size (the birthday term) —
    * the `bits = 16` default is a toy/test width that drowns in chance
    * pairs past ~1k docs: derive `bits` from corpus size with
    * [[simhashBitsFor]] / audit with [[simhashChancePairs]].
    */
  def simhashNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16,
      maxHamming: Int = 2
  ): DataFrame = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32], got $bits")
    fingerprintNearDuplicates(
      simhash(docs, idCol, textCol, bits), idCol, "simhash", bits, maxHamming)
  }

  /** Expected CHANCE pairs within `maxHamming` bits among `corpusSize`
    * UNRELATED documents — the birthday term that makes the simhash
    * `bits` choice a function of corpus size, not taste: two random
    * b-bit fingerprints collide within h bits with probability
    * V(b,h) / 2^b where V(b,h) = sum_{i<=h} C(b,i) (the Hamming-ball
    * volume), so the expected chance-pair count is C(n,2) * V / 2^b —
    * QUADRATIC in n. These pairs are not wrong (the oracle's literal
    * all-pairs Hamming scan counts them too); they are USELESS output
    * that swamps the true near-duplicates and makes the pair relation
    * super-linear at scale. The measured case: this repo's 10× corpus
    * sweep had `dedup_simhash_pairs` at bits = 16 grow 13.2× in rows
    * for 10× documents — exactly this term (BENCH_SF1.md).
    */
  def simhashChancePairs(corpusSize: Long, bits: Int, maxHamming: Int = 2): Double = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming")
    val ball = (0 to maxHamming).map { i =>
      (0 until i).map(j => (bits - j).toDouble / (j + 1)).product
    }.sum
    corpusSize.toDouble * (corpusSize - 1).toDouble / 2.0 * ball / math.pow(2.0, bits)
  }

  /** The smallest simhash `bits` (within this fingerprint family's
    * 16..32 — md5 leading nibbles carry at most 32) whose expected
    * chance pairs stay under `tolerancePairsPerDoc * corpusSize` —
    * derive the default from corpus size instead of inheriting 16:
    *
    *   - bits = 16, h = 2 crosses 1 chance pair per 20 docs at n ≈ 50
    *     and 1 per doc at n ≈ 1,000 — 16 bits is a TOY/TEST width;
    *   - bits = 24 holds 0.05 pairs/doc to n ≈ 5.6k;
    *   - bits = 32 holds it to n ≈ 810k documents.
    *
    * Beyond the n where even 32 bits exceeds the tolerance this
    * REFUSES loudly instead of returning a width that drowns the
    * output in chance pairs: at that scale collapse exact duplicates
    * first ([[nearDuplicatesCollapsed]]'s composition — chance pairs
    * scale with the quadratic term of the SURVIVOR count), shard the
    * pairing by corpus partition, or use MinHash-LSH
    * ([[nearDuplicates]]), whose banding tunes precision independently
    * of a fixed fingerprint width.
    */
  def simhashBitsFor(
      corpusSize: Long, maxHamming: Int = 2,
      tolerancePairsPerDoc: Double = 0.05): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0, got $corpusSize")
    require(tolerancePairsPerDoc > 0,
      s"tolerancePairsPerDoc must be > 0, got $tolerancePairsPerDoc")
    (16 to 32).find(b =>
      simhashChancePairs(corpusSize, b, maxHamming) <=
        tolerancePairsPerDoc * corpusSize.max(1L))
      .getOrElse(throw new IllegalArgumentException(
        s"simhashBitsFor: even 32 fingerprint bits expect ${"%.2g".format(
          simhashChancePairs(corpusSize, 32, maxHamming))} chance pairs over " +
          s"$corpusSize docs (tolerance ${tolerancePairsPerDoc}/doc) — at this scale " +
          "collapse exact duplicates first (nearDuplicatesCollapsed), shard the " +
          "pairing, or use MinHash-LSH (nearDuplicates) instead of widening simhash"))
  }

  /** Banded Hamming pairing over ANY precomputed <=64-bit fingerprint
    * relation — the pigeonhole machinery of [[simhashNearDuplicates]]
    * factored out so other fingerprint families reuse it (image dHash
    * via [[Multimodal.decodeBmpDhash]], text SimHash, any rolling
    * hash). The exhaustiveness argument is banding's: fingerprints
    * within `maxHamming` differing bits must agree EXACTLY on at least
    * one of `maxHamming + 1` disjoint bit bands, so the candidate join
    * is a hash-partitioned equality join over band buckets (never
    * all-pairs) and the exact XOR popcount verifies each candidate.
    * Fingerprints are interpreted MODULO 2^bits: the low `bits` bits
    * are the whole identity, masked up front so banding and the
    * Hamming verify agree on the domain — without the mask, a caller
    * declaring fewer bits than the hash really carries would get bands
    * over the low bits but popcounts over all 64, silently dropping
    * pairs. Null fingerprints are dropped; the per-band mask keeps the
    * arithmetic right even when a band holds the sign bit (shiftright
    * sign-fill is masked away). Output: (a_id, b_id, hamming).
    */
  def fingerprintNearDuplicates(
      fps: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int,
      maxHamming: Int
  ): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming")
    val banded = bandedFingerprintRel(fps, idCol, fpCol, bits, maxHamming)
    val a = banded.select(col("sid").as("a_id"), col("fp").as("a_fp"), col("band"), col("bsig"))
    val b = banded.select(col("sid").as("b_id"), col("fp").as("b_fp"), col("band"), col("bsig"))
    a.join(b.hint("shuffle_hash"), Seq("band", "bsig"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The fingerprint masked to the declared bit domain — every band
    * consumer must apply this before slicing, or bits above `bits`
    * (sign bits included) would leak into the top band's signature.
    */
  private[graft] def maskToDomain(fp: Column, bits: Int): Column =
    fp.cast("long").bitwiseAND(lit(if (bits == 64) -1L else (1L << bits) - 1L))

  /** The maxHamming+1 pigeonhole band slices of a domain-masked
    * fingerprint column, as an array of (band, bsig) structs — the
    * band construction shared by every banded-Hamming consumer (the
    * batch pair joins here, the streaming admission gate). Two
    * fingerprints within maxHamming differing bits MUST agree exactly
    * on at least one band (the differing bits cannot touch all
    * maxHamming+1 disjoint slices).
    */
  private[graft] def fingerprintBands(maskedFp: Column, bits: Int, maxHamming: Int): Column = {
    val nBands = maxHamming + 1
    val base = bits / nBands
    val extra = bits % nBands
    val widths = Array.tabulate(nBands)(b => base + (if (b < extra) 1 else 0))
    val shifts = widths.scanLeft(0)(_ + _).init
    val bandCols = (0 until nBands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
      struct(lit(b).as("band"),
        shiftright(maskedFp, shifts(b)).bitwiseAND(lit(mask)).as("bsig"))
    }
    array(bandCols: _*)
  }

  /** The pigeonhole band relation shared by the fingerprint pairing
    * forms: (sid, fp, band, bsig) with the fingerprint masked to the
    * declared bit domain and maxHamming+1 sign-safe bands.
    */
  private[graft] def bandedFingerprintRel(
      fps: DataFrame, idCol: String, fpCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val fp = fps.where(col(fpCol).isNotNull)
      .select(col(idCol).as("sid"), maskToDomain(col(fpCol), bits).as("fp"))
    fp.select(col("sid"), col("fp"),
        explode(fingerprintBands(col("fp"), bits, maxHamming)).as("bb"))
      .select(col("sid"), col("fp"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** Incremental banded Hamming pairing — [[incrementalNearDuplicates]]
    * re-aimed at the fingerprint tier (SimHash, image dHash, audio
    * energy contours): pairs of a daily increment against the indexed
    * corpus plus within the increment, with corpus x corpus candidates
    * NEVER generated — the corpus band relation is scanned once and
    * joined against increment bands only. One tagged-union join (the
    * [[incrementalNearDuplicates]] shape): the build side is corpus ∪
    * increment bands, the increment side is the hinted hash-join probe,
    * and the membership-dependent pair rule (corpus matches in any
    * order, increment-internal matches only as a < b) is a residual
    * filter on the tag. The `shuffle_hash` hint sits on the INCREMENT
    * side — the hinted relation is the hash-join BUILD side, and the
    * build table must be the small relation in the
    * corpus-dwarfs-increment regime this operator exists for. Output:
    * (a_id, b_id, hamming) with `a_id` always the increment-side
    * document. Increment ids must be new — re-submitting an indexed id
    * double-reports its pairs, the same contract as every incremental
    * tier here.
    */
  def fingerprintNearDuplicatesIncremental(
      increment: DataFrame,
      corpus: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int,
      maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, bits), got $maxHamming")
    val bi = bandedFingerprintRel(increment, idCol, fpCol, bits, maxHamming)
    val bc = bandedFingerprintRel(corpus, idCol, fpCol, bits, maxHamming)
    val a = bi.select(col("sid").as("a_id"), col("fp").as("a_fp"), col("band"), col("bsig"))
    val b = bc.select(col("sid").as("b_id"), col("fp").as("b_fp"), col("band"), col("bsig"),
        lit(false).as("b_inc"))
      .unionByName(bi.select(col("sid").as("b_id"), col("fp").as("b_fp"),
        col("band"), col("bsig"), lit(true).as("b_inc")))
    a.hint("shuffle_hash").join(b, Seq("band", "bsig"))
      .where(!col("b_inc") || col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** n-gram (word-set) Jaccard over ALL pairs within a `blockCol` block
    * (e.g. language). SMALL-BLOCK EXACT VERIFY ONLY: the per-block join
    * is quadratic in block size, so this form is for bounded blocks
    * (e.g. a re-check of one cluster) — at corpus scale use
    * [[nearDuplicates]] / [[jaccardOnPairs]], which verify only LSH
    * candidates. Integer cross-multiplied threshold test keeps the
    * filter float-free.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      thresholdPct: Int
  ): DataFrame = {
    val t = docs.select(
      col(idCol),
      col(blockCol),
      sortedTokenSet(col(textCol)).as("toks")
    )
    val a = t.select(col(idCol).as("a_id"), col(blockCol).as("blk"), col("toks").as("a_toks"))
    val b = t.select(col(idCol).as("b_id"), col(blockCol).as("blk"), col("toks").as("b_toks"))
    jaccardTail(
      a.join(b, "blk")
        .where(col("a_id") < col("b_id")),
      thresholdPct)
  }

  /** One-pass sorted distinct token set of a text column.
    * `sort_array` (native ordering comparator), not `array_sort`: the
    * latter is a higher-order function whose default lambda comparator
    * is interpreted per ELEMENT COMPARISON — on a corpus-wide verify
    * scan the O(n log n) comparator calls were the projection's cost.
    * Token arrays from split() are null-free, so the two functions'
    * orderings coincide (both binary UTF8 ascending; they differ only
    * on null placement).
    */
  private def sortedTokenSet(text: Column): Column =
    sort_array(array_distinct(split(text, " ")))

  /** The shared verify tail: length prefilter (cheap, join-condition
    * pushable — prunes on two array headers before any merge scan),
    * then the exact intersect + threshold + jaccard projection. The
    * (n_inter, n_sum) pair rides a one-element explode (Generate
    * barrier): with plain aliases the threshold predicate pushes into
    * the JOIN CONDITION by alias substitution and the
    * O(|A|+|B|) sorted-intersect merge scan runs THREE times per
    * candidate pair (twice in the pushed threshold test, once in the
    * output projection — verified in the sf0.1 plan); behind the
    * barrier it runs once.
    */
  private def jaccardTail(pairsWithToks: DataFrame, thresholdPct: Int): DataFrame =
    pairsWithToks
      // length prefilter (similarity-join literature): J(A,B) <=
      // min(|A|,|B|)/max(|A|,|B|), so a size-incompatible pair cannot
      // reach the threshold — pruned on two array headers BEFORE the
      // O(n+m) merge scan ever runs. Provably result-neutral.
      .where(least(size(col("a_toks")), size(col("b_toks"))) * 100 >=
             greatest(size(col("a_toks")), size(col("b_toks"))) * thresholdPct)
      .select(
        col("a_id"),
        col("b_id"),
        explode(array(struct(
          sortedIntersectSize(col("a_toks"), col("b_toks")).as("n_inter"),
          (size(col("a_toks")) + size(col("b_toks"))).as("n_sum")))).as("v"))
      .where(col("v.n_inter") * 100 >= (col("v.n_sum") - col("v.n_inter")) * thresholdPct)
      .select(
        col("a_id"),
        col("b_id"),
        round(col("v.n_inter").cast("double") /
          (col("v.n_sum") - col("v.n_inter")).cast("double"), 6).as("jaccard")
      )

  /** Jaccard verification restricted to an explicit candidate pair
    * list (a_id, b_id): token arrays are joined ONTO the pair list (two
    * hash joins keyed by doc id), so the verify cost is O(candidates),
    * never all-pairs within a block. This is the reference's prefilter
    * stance — cut the candidate space before any cross product
    * (reference: src/helpers/joins.rs:163-186). With `blockCol` set,
    * only same-block candidates (e.g. same language) survive the
    * verify — blocking as a filter on candidates, never a join key for
    * a cross product.
    */
  def jaccardOnPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPct: Int,
      blockCol: Option[String] = None
  ): DataFrame = {
    val toks = docs.select(
      Seq(
        col(idCol).as("tid"),
        sortedTokenSet(col(textCol)).as("toks")
      ) ++ blockCol.map(c => col(c).as("blk")): _*)
    val aSide = toks.select(
      Seq(col("tid").as("a_id"), col("toks").as("a_toks")) ++
        blockCol.map(_ => col("blk").as("a_blk")): _*)
    val bSide = toks.select(
      Seq(col("tid").as("b_id"), col("toks").as("b_toks")) ++
        blockCol.map(_ => col("blk").as("b_blk")): _*)
    val joined = pairs.join(aSide, "a_id").join(bSide, "b_id")
    jaccardTail(
      blockCol.fold(joined)(_ => joined.where(col("a_blk") === col("b_blk"))),
      thresholdPct)
  }

  /** Candidate-pair generator signature shared by [[lshCandidatePairs]]
    * and [[lshCandidatePairsSkewSafe]]: (docs, idCol, textCol,
    * numHashes, rowsPerBand) -> (a_id, b_id). The end-to-end operators
    * take one of these, so the skew posture is a composition choice,
    * not a separate pipeline.
    */
  type PairGenerator = (DataFrame, String, String, Int, Int) => DataFrame

  /** End-to-end near-duplicate detection at scale: MinHash+LSH candidate
    * generation (per-bucket pairs — no O(n^2)) followed by exact n-gram
    * Jaccard verification over just those candidates
    * ([[jaccardOnPairs]]). Output: (a_id, b_id, jaccard) for verified
    * pairs at or above the threshold. The whole plan's cost is linear in
    * corpus size plus candidates — the only quadratic term is within an
    * LSH bucket, which banding keeps tiny.
    *
    * `pairGenerator` selects the candidate stage: the default
    * [[lshCandidatePairs]] for typical corpora, or
    * `lshCandidatePairsSkewSafe(_, _, _, _, _, nGroups)` when
    * mega-buckets are expected (both emit the identical candidate set,
    * so the verified result is the same either way).
    */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      thresholdPct: Int = 40,
      pairGenerator: PairGenerator = lshCandidatePairs(_, _, _, _, _)
  ): DataFrame =
    jaccardOnPairs(
      pairGenerator(docs, idCol, textCol, numHashes, rowsPerBand),
      docs, idCol, textCol, thresholdPct)

  /** Incremental near-duplicate detection: find near-dups OF A NEW
    * INCREMENT against an existing corpus plus within the increment
    * itself — the daily-crawl ingest shape. The candidate space is
    * (increment x corpus) ∪ (increment x increment): the corpus's own
    * self-pairs — the dominant quadratic term when the corpus dwarfs
    * the increment — are never generated, which is what makes repeated
    * ingestion affordable at scale (re-running full-corpus
    * [[nearDuplicates]] per increment re-pays the whole corpus's
    * candidate mass every day).
    *
    * Output: (a_id, b_id, jaccard) verified pairs where a_id is an
    * increment doc and b_id is the matched corpus-or-earlier-increment
    * doc (for increment-internal pairs, a_id < b_id). Anti-join the
    * increment against `select(a_id)` for the accept list. Ids must be
    * unique across both relations.
    *
    * Plan shape: band signatures for each side (narrow native
    * projections), one hash join per candidate branch on the band key,
    * Jaccard verify over candidates only ([[jaccardOnPairs]] against
    * the unioned token relation) — candidates-then-verify throughout.
    */
  def incrementalNearDuplicates(
      increment: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      thresholdPct: Int = 40
  ): DataFrame = {
    val keyCols = bandKeyCols(rowsPerBand)
    // [[bandedSignatures]] makes the id-notnull filter explicit on BOTH
    // band relations: the self-join's a < b predicate infers
    // isnotnull(id) into its two sides but the cross-relation join
    // doesn't — without the filter everywhere, the increment's subtree
    // copies canonicalize differently and ReuseExchange recomputes the
    // signatures
    val bi = bandedSignatures(increment, idCol, textCol, numHashes, rowsPerBand)
    val bc = bandedSignatures(corpus, idCol, textCol, numHashes, rowsPerBand)
    // ONE join, not one per candidate branch: the build side is the
    // tagged union corpus ∪ increment, and the membership-dependent
    // pair rule (corpus matches in any order; increment matches only as
    // a < b) is a residual filter on the tag — two joins would shuffle
    // the increment's band relation twice more and union their outputs
    val a = bi.select(col(idCol).as("a_id") +: keyCols.map(col): _*)
    val b = bc.select((col(idCol).as("b_id") +: keyCols.map(col)) :+ lit(false).as("b_inc"): _*)
      .unionByName(
        bi.select((col(idCol).as("b_id") +: keyCols.map(col)) :+ lit(true).as("b_inc"): _*))
    // hint the INCREMENT side: the hash-join build relation must be the
    // small relation in the corpus-dwarfs-increment regime this
    // operator exists for — building over corpus ∪ increment would put
    // per-task memory proportional to the corpus, not the increment
    val candidates = a.hint("shuffle_hash").join(b, keyCols)
      .where(!col("b_inc") || col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val allDocs = increment.select(col(idCol), col(textCol))
      .unionByName(corpus.select(col(idCol), col(textCol)))
    jaccardOnPairs(candidates, allDocs, idCol, textCol, thresholdPct)
  }

  /** Exact-collapse then near-dup: collapse exact duplicates to their
    * min-id representative FIRST (one cheap content-hash aggregate),
    * then run LSH + Jaccard verify over representatives only. Web-scale
    * crawls are commonly 30-50% exact duplicates, and LSH candidate
    * pairs grow with the SQUARE of bucket sizes (see `ScaleLawSpec`'s
    * N² candidate ceiling) — so
    * collapsing before banding shrinks the quadratic term at its
    * source: an exact-dup group of k docs contributes k^2 candidate
    * pairs uncollapsed but only its representative collapsed. Output is
    * verified (a_id, b_id, jaccard) over representatives; compose with
    * [[exactGroups]] to map members back to their representative.
    */
  def nearDuplicatesCollapsed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      thresholdPct: Int = 40,
      pairGenerator: PairGenerator = lshCandidatePairs(_, _, _, _, _)
  ): DataFrame = {
    val reps = docs
      .groupBy(col(textCol))
      .agg(min(idCol).as(idCol))
      .select(col(idCol), col(textCol))
    nearDuplicates(reps, idCol, textCol, numHashes, rowsPerBand, thresholdPct, pairGenerator)
  }

  /** Connected components over an undirected duplicate-pair list
    * (a_id, b_id) -> (id, cluster_id) where cluster_id is the minimum
    * member id of the component. This completes the dedup story: pair
    * detection tells you WHICH docs collide; clustering tells you the
    * GROUPS so a survivor can be chosen per group (see
    * [[dedupedCorpus]]).
    *
    * Algorithm: iterative min-label propagation (hash-to-min) with a
    * pointer-jumping shortcut. Each iteration does (1) one shuffle join
    * (edge source -> current label) plus one hash aggregate (min
    * incoming label per destination), then (2) label(v) <-
    * label(label(v)) — a self-join on the label relation that halves
    * the distance a min still has to travel, giving O(log diameter)
    * iterations instead of O(diameter). That matters in practice:
    * near-dup chains (template drift, doc_i ~ doc_{i+1}) produce long
    * thin components — the sf0.01 corpus already has 23-hop paths — and
    * a plain one-hop propagation walks them one edge per round. This is
    * the classic MapReduce CC stance (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"). Each iteration is
    * checkpointed to RELIABLE storage (the SparkContext checkpoint
    * dir): the loop would otherwise stack joins into one unboundedly
    * deep lineage, which kills both the optimizer and recovery at
    * scale — and a localCheckpoint would truncate that lineage into
    * executor-resident blocks, so losing one executor after iteration
    * k would make every later iteration unrecoverable. Checkpoint
    * files live in the checkpoint-dir filesystem, readable by any
    * executor, so an executor loss is a retry, not a rerun. On a
    * cluster, set `sparkContext.setCheckpointDir` to a durable shared
    * path (HDFS/object store) before calling; absent that, a
    * driver-local temp dir is used, which only suits single-node runs.
    * The per-iteration convergence check is a small distributed
    * emptiness probe, not a collect. Throws if maxIter is reached
    * before the fixpoint — a silently under-merged clustering is worse
    * than a loud failure.
    *
    * Small-graph short-circuit: when the deduplicated edge list fits
    * `maxDriverEdges` rows — the same order of size this loop would
    * happily ship through the driver for a single broadcast build — the
    * component labels are computed in ONE pass by a driver-side
    * union-find over one collect of the (already cached) edge relation,
    * instead of O(log d) distributed rounds each paying job, shuffle,
    * and checkpoint overhead. This is not a scale compromise: the input
    * here is the VERIFIED duplicate-pair graph, post exact-collapse and
    * Jaccard verification, which is orders of magnitude smaller than the
    * corpus; a graph that exceeds the bound takes the distributed
    * delta-iteration path unchanged. Set `maxDriverEdges = 0` to force
    * the distributed path (the bench records both). Both regimes pick
    * representatives under the SAME ordering: the driver path compares
    * String ids by their UTF-8 bytes (UTF8String), exactly the binary
    * ordering Spark's min() uses distributively, so the chosen
    * cluster_id is regime-independent for every id scheme, including
    * non-ASCII ones.
    */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 25,
      maxDriverEdges: Long = 500000L): DataFrame = {
    // The PAIR relation — the expensive (LSH + verify) subtree and the
    // smallest relation in the construction — stages into a short-lived
    // cache whose exact bytes pick the LOOP WIDTH (see [[AdaptiveLoop]];
    // the edge relation is bounded by both directions of every pair),
    // so the edge cache can be laid out at that width from the start
    // instead of inheriting the session shuffle width: every
    // iteration's frontier join, aggregation, checkpoint, and
    // convergence probe then run at the data's width — 2 partitions
    // locally, thousands on a 10^10-edge cluster — instead of 32
    // near-empty tasks per stage per round.
    val pairsC = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val pairRows = pairsC.count()
    def bothDirections(rel: DataFrame): DataFrame = rel
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select("e.src", "e.dst")
    // the deduplicated edge count can only be <= both directions of
    // every pair, so 2|pairs| under the gate GUARANTEES the driver
    // path: collect straight from the pair staging cache (union-find
    // tolerates duplicate edges; the result is identical) and never
    // build, shuffle, or cache the edge relation at all
    if (2L * pairRows <= maxDriverEdges)
      return driverUnionFind(pairs.sparkSession, bothDirections(pairsC))
    val loopPart = AdaptiveLoop.partitionsForBytes(
      pairs.sparkSession,
      AdaptiveLoop.cachedBytes(pairsC) * 2 + BigInt(16L * pairRows),
      2L * pairRows)
    // both edge directions via ONE explode, not union-of-two-branches:
    // a union would expand the pairs subtree into two copies — here it
    // scans the pair staging cache once. The one-time repartition on
    // src pins the cached layout to the partitioning every iteration's
    // frontier join requires (HashPartitioning(src)): without it the
    // distinct()'s (src,dst) partitioning forces a full edge re-shuffle
    // EVERY iteration — the dominant relation shuffled O(log d) times
    // instead of once.
    // dedup AFTER the src repartition, not before: rows sharing (src,
    // dst) necessarily share src, so HashPartitioning(src) satisfies
    // the dedup aggregate's clustered distribution and the per-
    // partition dedup reuses the repartition exchange — one full
    // shuffle of the edge relation instead of two (distinct-then-
    // repartition paid an extra (src,dst) exchange of the biggest
    // relation in the loop), and the aggregate preserves the src
    // layout the per-iteration frontier join requires.
    val edges = bothDirections(pairsC)
      .repartition(loopPart, col("src"))
      .dropDuplicates("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the caches must not outlive this call on ANY exit path — including
    // a mid-loop failure or the non-convergence throw — so the whole
    // body runs under one finally that releases them
    try {
    // the count doubles as the edge cache's materialization barrier
    // (built FROM the pair cache, which is released right after) and
    // feeds the small-graph gate for the 2|pairs|-above-gate case where
    // deduplication may still land the edge relation under it
    val edgeRows = edges.count()
    pairsC.unpersist()
    if (edgeRows <= maxDriverEdges)
      return driverUnionFind(pairs.sparkSession, edges)
    // the whole iteration — init checkpoint, per-round joins and
    // aggregations, per-round checkpoints and convergence probes — runs
    // with the shuffle width scoped to the edge cache's layout and AQE
    // off (see [[AdaptiveLoop.scoped]]): every in-loop exchange lands
    // co-partitioned with the cache, and the per-round adaptive
    // re-planning pauses disappear
    AdaptiveLoop.scoped(pairs.sparkSession, loopPart) {
    // The initial labels fuse the FIRST propagation round into the init
    // checkpoint for free: the init already pays a groupBy over the edge
    // relation to enumerate vertices, and adding min(dst) to that same
    // aggregate yields label_0(v) = min(v, min N(v)) — one full
    // hash-to-min round — at zero extra shuffle cost. It also seeds the
    // first loop round's (identity-pruned) jump mapping with real
    // pointers instead of an empty relation.
    var labels = reliableCheckpoint(edges
      .groupBy(col("src")).agg(min(col("dst")).as("nbr0"))
      .select(col("src").as("id"), least(col("src"), col("nbr0")).as("cluster_id"))
      .repartition(loopPart, col("id")))
    val nVertices = labels.count()
    // delta iteration: only vertices whose label changed last round can
    // improve a neighbor this round, so the (large) edge relation joins
    // against the (shrinking) delta instead of the full label set —
    // after the first couple of rounds most of the graph is stable and
    // the per-round edge join collapses to the frontier. The loop joins
    // are deliberately plain SHUFFLE joins, not size-gated broadcasts:
    // every shuffled relation here is frontier-sized (the cached edge
    // relation keeps its src partitioning, so it never re-shuffles), a
    // broadcast build is an extra driver round-trip JOB per use — three
    // per iteration — and the measured full-sweep A/B at sf0.1 had the
    // broadcast variant 2.7x SLOWER (12.6 s vs 4.7 s) purely from that
    // per-round job overhead. The regime where broadcasts would shine
    // (whole graph small) is exactly the regime the driver union-find
    // short-circuit above already owns.
    var delta = labels
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(delta.withColumnRenamed("id", "src"), "src")
        .groupBy("dst")
        .agg(min("cluster_id").as("nbr_min"))
        .withColumnRenamed("dst", "id")
      val propagated = labels
        .withColumnRenamed("cluster_id", "old_label")
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("old_label"), coalesce(col("nbr_min"), col("old_label"))).as("cluster_id"),
          col("old_label"))
      // Pointer jumping: follow the label one more hop — turns
      // O(diameter) convergence into O(log diameter). The mapping side
      // is the PREVIOUS round's checkpointed labels (a flat file scan),
      // not the freshly-computed `propagated`: a self-join on
      // `propagated` would execute the whole propagation subtree twice
      // per round (its two shuffle boundaries differ by a projection and
      // never canonicalize into a ReusedExchange). The stale mapping is
      // one propagation step behind, which costs at most one extra
      // round (distance per round shrinks 2^i-1 vs 2^i) and keeps
      // every invariant: labels are component-member ids, monotonically
      // non-increasing, and the fixpoint of propagation alone is the
      // per-component min. least() guards the jump against a stale
      // entry ever RAISING a label; identity pointers are pruned — they
      // cannot improve anything, and round one's mapping becomes empty.
      val mapping = labels
        .select(col("id").as("mid"), col("cluster_id").as("mlabel"))
        .where(col("mid") =!= col("mlabel"))
      val next = reliableCheckpoint(propagated
        .join(mapping, propagated("cluster_id") === mapping("mid"), "left")
        .select(
          propagated("id"),
          least(propagated("cluster_id"),
            coalesce(col("mlabel"), propagated("cluster_id"))).as("cluster_id"),
          col("old_label")))
      // any change — via propagation or via the jump — re-enters the
      // frontier, so its neighbors see the improved label next round
      delta = next.where(col("cluster_id") =!= col("old_label")).select("id", "cluster_id")
      // one cheap scan of the just-checkpointed relation is the
      // convergence probe — a distributed count, never a collect
      val frontierRows = delta.count()
      converged = frontierRows == 0
      labels = next.select("id", "cluster_id")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter iterations; raise maxIter")
    labels
    }
    } finally edges.unpersist()
    } finally pairsC.unpersist()
  }

  /** Incremental duplicate-cluster MAINTENANCE — the daily-delta
    * sibling of [[Retrieval.updateIndex]] and
    * [[Similarity.updatePqIndex]], closing the last index tier that
    * still forced a full recompute: merge an increment's near-dup
    * `newPairs` into an `existing` [[duplicateClusters]] output WITHOUT
    * re-running connected components over yesterday's whole pair graph.
    *
    * The trick is that a clustering is its own connectivity certificate:
    * one star edge per non-representative member (member →
    * `cluster_id`, which IS a member — the min id) reproduces each
    * existing cluster's connectivity exactly, so CC over
    * (`newPairs` ∪ star edges of the AFFECTED clusters) equals CC over
    * (old pair graph ∪ `newPairs`) restricted to affected components —
    * and every untouched cluster keeps its label verbatim, never
    * entering the iteration. Affected = clusters holding an endpoint of
    * a new pair; the CC input is |newPairs| + |affected members| rows,
    * not the corpus pair graph, which is what makes a daily delta
    * against a 100 TB clustering affordable: two hash joins against the
    * (columnar, id-pruned) existing relation plus a CC sized to the
    * day's churn. Labels stay min-member ids: a bridge between two
    * existing clusters re-labels the union to the smaller
    * representative, exactly as a from-scratch run would.
    *
    * `existing` is (id, cluster_id) as [[duplicateClusters]] emits;
    * `newPairs` is (a_id, b_id) and may reference both old and
    * brand-new documents. Output: (id, cluster_id) over the union
    * graph — certified by the `dedup_clusters_incremental` oracle,
    * which recomputes the full union clustering recursively.
    *
    * Reference: ironbeam has no dedup/clustering tier at all (its
    * closest surface is distinct, src/helpers/distinct.rs); this is
    * beyond-parity capability following the update-path stance of this
    * library's own index tiers.
    */
  def updateClusters(
      existing: DataFrame,
      newPairs: DataFrame,
      maxIter: Int = 25,
      maxDriverEdges: Long = 500000L): DataFrame = {
    // the increment's pair relation is referenced three times (both
    // touched projections + the CC input) and in the registered
    // pipelines it is an LSH + exact-verify chain — checkpoint the
    // churn-sized relation ONCE so that chain never re-executes; the
    // `affected` cluster-id relation is read twice (members semi,
    // untouched anti) and is at most one row per affected cluster, so
    // it checkpoints for pennies too. `existing` is scanned by the two
    // semi joins and the anti join: pass a MATERIALIZED relation (a
    // parquet read-back or a duplicateClusters output, which is
    // checkpointed/local already) — that is what yesterday's clustering
    // is in a real daily run.
    val pairs = reliableCheckpoint(newPairs.select(col("a_id"), col("b_id")))
    val touched = pairs.select(col("a_id").as("id"))
      .unionByName(pairs.select(col("b_id").as("id")))
      .distinct()
    // clusters holding any endpoint of a new pair; brand-new ids fall
    // out of the semi join (they have no existing cluster to affect)
    val affected = reliableCheckpoint(
      existing.join(touched, Seq("id"), "left_semi")
        .select(col("cluster_id")).distinct())
    val affectedMembers = existing.join(affected, Seq("cluster_id"), "left_semi")
    val starEdges = affectedMembers
      .where(col("id") =!= col("cluster_id"))
      .select(col("cluster_id").as("a_id"), col("id").as("b_id"))
    val merged = duplicateClusters(
      starEdges.unionByName(pairs),
      maxIter, maxDriverEdges)
    // representative-only affected clusters (size-1 stars have no
    // non-rep member, but CAN still be touched via their rep) are
    // impossible here: duplicateClusters never emits singleton
    // clusters, so every affected cluster contributes >= 1 star edge
    // and all its members re-enter `merged`
    val untouched = existing.join(affected, Seq("cluster_id"), "left_anti")
    untouched.select(col("id"), col("cluster_id")).unionByName(merged)
  }

  /** Duplicate-cluster maintenance under DELETION — the removal
    * sibling of [[updateClusters]], completing the data-deletion story
    * the index tiers' tombstone deletes started: drop `removedIds`
    * from an `existing` clustering WITHOUT re-running connected
    * components over the whole pair graph.
    *
    * Removal is harder than addition: adding edges only MERGES
    * components, so the star-edge connectivity certificate is sound —
    * but removing a document deletes its edges, and if it was the
    * bridge its cluster SPLITS, which no certificate derived from the
    * old labels can express. The sound churn-bounded recompute is to
    * re-cluster the AFFECTED clusters (those losing >= 1 member) over
    * their ORIGINAL pairs restricted to surviving members — `pairs`
    * is the pair relation the clustering was built from (yesterday's
    * LSH output, materialized, exactly as `existing` is). Pairs never
    * cross component boundaries, so untouched clusters keep their
    * labels verbatim and the CC input is the affected clusters'
    * internal surviving pairs — churn-sized, never the corpus graph.
    * Survivors whose every pair died leave the report entirely
    * (clusterings never carry singletons), and a split cluster's
    * fragments re-label to their own min members — both exactly as a
    * from-scratch clustering of the remaining corpus would, which is
    * what the `dedup_clusters_removed` oracle certifies (removal can
    * create no NEW pairs, so from-scratch over the remaining corpus ==
    * CC over the original pairs minus removed endpoints).
    *
    * `existing` is (id, cluster_id); `pairs` is (a_id, b_id);
    * `removedIds` carries one `id` column. Ids in `removedIds` that
    * were never clustered are ignored (deleting a singleton doc
    * changes no cluster). Output: (id, cluster_id).
    */
  def removeFromClusters(
      existing: DataFrame,
      pairs: DataFrame,
      removedIds: DataFrame,
      maxIter: Int = 25,
      maxDriverEdges: Long = 500000L): DataFrame = {
    // the removed-id relation is read three times (affected semi, the
    // two survivor anti joins) and is delta-sized — checkpoint once;
    // `affected` likewise (one row per affected cluster)
    val removed = reliableCheckpoint(removedIds.select(col("id")).distinct())
    val affected = reliableCheckpoint(
      existing.join(removed, Seq("id"), "left_semi")
        .select(col("cluster_id")).distinct())
    val untouched = existing.join(affected, Seq("cluster_id"), "left_anti")
    val affectedSurvivors = existing
      .join(affected, Seq("cluster_id"), "left_semi")
      .join(removed, Seq("id"), "left_anti")
      .select(col("id"))
    // the surviving internal pair graph of the affected clusters: both
    // endpoints must be affected-and-surviving. Two semi joins restrict
    // the (corpus-sized) pair relation to churn before any CC work.
    val survivorPairs = pairs.select(col("a_id"), col("b_id"))
      .join(affectedSurvivors.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(affectedSurvivors.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
    untouched.select(col("id"), col("cluster_id"))
      .unionByName(duplicateClusters(survivorPairs, maxIter, maxDriverEdges))
  }

  /** Cluster-size distribution of a clustering — the dedup REPORT a
    * curation run publishes beside the deduped corpus: how many
    * duplicate families of each size exist (token savings derive as
    * sum over sizes of (size - 1) x docs-per-size). Input is
    * [[duplicateClusters]]' (id, cluster_id); singleton docs never
    * enter the pair graph, so every reported size is >= 2 — add the
    * corpus count for the full picture. Two map-side-combinable hash
    * aggregates, nothing collects.
    * Output: (cluster_size, n_clusters).
    */
  def clusterSizeProfile(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Survivor selection: keep one document per duplicate cluster (the
    * minimum id — deterministic, matching the reference's min-id
    * tie-break stance) plus every document that never appeared in a
    * duplicate pair. The discard list is the set of cluster members
    * whose id is not the cluster representative; removal is a left-anti
    * hash join — no full-corpus shuffle beyond the join itself, and the
    * discard side is at most the number of duplicated docs, typically a
    * small fraction of the corpus.
    */
  def dedupedCorpus(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 25,
      maxDriverEdges: Long = 500000L): DataFrame =
    dedupedCorpusFromClusters(docs, idCol, duplicateClusters(pairs, maxIter, maxDriverEdges))

  /** Survivor selection against an ALREADY-COMPUTED clustering — the
    * form [[updateClusters]] composes with, so the daily-delta chain
    * reaches corpus output without re-clustering: losers are the
    * members whose id is not their cluster's representative, removed
    * by one left-anti hash join.
    */
  def dedupedCorpusFromClusters(
      docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Checkpoint to reliable storage, materializing eagerly. Ensures a
    * checkpoint dir exists: callers on a cluster should have set a
    * durable shared path via `sparkContext.setCheckpointDir`; the
    * fallback is a driver-local temp dir, which only suits single-node
    * runs (and is what localCheckpoint's executor-memory truncation is
    * NOT: files any executor can re-read after a peer is lost).
    */
  /** One-collect union-find for duplicate graphs small enough to ship
    * through the driver (see [[duplicateClusters]]'s small-graph gate —
    * the bound is the same order of size a broadcast build would ship
    * there anyway). Path-compressed, arbitrary union order, then one
    * O(n) pass picks the minimum member id per root so the output
    * matches the distributed path's (id, cluster_id = min member) exactly.
    */
  private def driverUnionFind(spark: SparkSession, edges: DataFrame): DataFrame = {
    import scala.collection.mutable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = edges.schema("src").dataType
    // the cached edge relation holds both directions; one suffices
    val undirected = edges.where(col("src") < col("dst")).collect()
    val idx = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    def intern(v: Any): Int =
      idx.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val es = undirected.map(r => (intern(r.get(0)), intern(r.get(1))))
    val n = ids.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
    }
    // id types seen here are the JVM externals of Spark's atomic
    // orderable types (String, Long, Int, ...). Strings are compared by
    // their UTF-8 BYTES — the ordering Spark's distributed min() uses —
    // not String.compareTo's UTF-16 code units, which diverge for
    // supplementary-plane vs U+E000..U+FFFF characters; the two
    // clustering regimes must pick identical representatives for any
    // id scheme, so the keys are converted once up front
    val ordKeys = new Array[AnyRef](n)
    var p = 0
    while (p < n) {
      ordKeys(p) = (ids(p) match {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case v => v
      }).asInstanceOf[AnyRef]
      p += 1
    }
    def lt(a: Int, b: Int): Boolean =
      ordKeys(a).asInstanceOf[Comparable[AnyRef]].compareTo(ordKeys(b)) < 0
    val minIdx = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (minIdx(r) == -1 || lt(i, minIdx(r))) minIdx(r) = i
      i += 1
    }
    val out = new java.util.ArrayList[Row](n)
    var j = 0
    while (j < n) { out.add(Row(ids(j), ids(minIdx(find(j))))); j += 1 }
    spark.createDataFrame(out,
      StructType(Seq(StructField("id", idType), StructField("cluster_id", idType))))
  }

  private[graft] def reliableCheckpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        new java.io.File(
          System.getProperty("java.io.tmpdir"),
          s"graft-ckpt-${sc.applicationId}").getAbsolutePath)
    // Spark 4's eager Dataset.checkpoint materializes via a single
    // rdd.doCheckpoint() write job (no separate count), so no
    // persist-before-checkpoint dance is needed — one job computes the
    // plan and writes the files.
    df.checkpoint()
  }

  private def spark(df: DataFrame) = df.sparkSession
}
