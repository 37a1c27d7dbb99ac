package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column statistics and profiling — the data-card / quality-report
  * tier a corpus publisher runs before shipping: per-column null and
  * cardinality profiles, exact fixed-width histograms, and correlation
  * computed from INTEGER sufficient statistics so the result is
  * bit-reproducible across engines (streaming covariance updates à la
  * Welford are engine-specific float paths; exact integer sums are
  * not).
  */
object Stats {

  /** One profile row per requested column: total rows, nulls, exact
    * distinct count. Each column's aggregate is its own scan — under a
    * columnar format that scan reads ONLY that column (the per-column
    * cost a profiler should pay), and the per-column relations union
    * into one result. Caveat: on a ROW-oriented source (csv/jsonl) or
    * a very wide column list this is N full scans where one combined
    * pass would do — convert to parquet first, or accept the cost; the
    * per-column shape is deliberate because each exact-distinct
    * aggregate needs its own shuffle key anyway.
    * Output: (column, n_rows, n_nulls, n_distinct).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(col(c).isNull.cast("long")).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"), col("n_distinct"))
    }.reduce(_ unionByName _)
  }

  /** Grouped column profile — the per-stratum data card (rows, nulls,
    * exact distincts per column PER GROUP, e.g. per language or per
    * source): the corpus-publisher view that catches a stratum whose
    * quality collapsed even when the global profile looks healthy.
    * Same per-column scan shape (and caveat) as [[profile]], each scan
    * now a two-level hash aggregate keyed by the group.
    * Output: (groupCol, column, n_rows, n_nulls, n_distinct) — one row
    * per (group, profiled column).
    */
  def profileBy(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileBy: no columns")
    cols.map { c =>
      df.groupBy(col(groupCol))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col(c).isNull.cast("long")).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"))
        .select(col(groupCol), lit(c).as("column"),
          col("n_rows"), col("n_nulls"), col("n_distinct"))
    }.reduce(_ unionByName _)
  }

  /** Exact fixed-width histogram of a numeric column over [lo, hi):
    * bin i covers [lo + i*w, lo + (i+1)*w) with w = (hi-lo)/bins.
    * Values outside the range are dropped (count them separately if
    * they matter). The bin expression is the literal arithmetic
    * `floor((x - lo) / w)`, CLAMPED to bins-1: when w is not exactly
    * representable (e.g. lo=0, hi=0.7, bins=7) a value just below hi
    * can float up to floor(...) == bins, which would be an
    * out-of-contract index — the clamp folds it into the last bin.
    * One map-side combinable hash aggregate.
    * Output: (bin, n), only non-empty bins.
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1 && hi > lo, s"bad histogram range [$lo, $hi) / $bins")
    df.where(inRangeExpr(col(valueCol), lo, hi))
      .select(binExpr(col(valueCol), lo, hi, bins).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
  }

  /** The grid membership predicate every binned operator shares:
    * non-null and in [lo, hi). Never null (null input reads false), so
    * it is safe as a conditional-aggregation guard.
    */
  private[graft] def inRangeExpr(v: Column, lo: Double, hi: Double): Column =
    v.isNotNull && v >= lo && v < hi

  /** The clamped fixed-width bin index every binned operator shares.
    * The least(...) clamp exists for a subtle float edge: with an
    * inexact width, the largest double below `hi` can floor to `bins`
    * unclamped — an out-of-contract index (see the histogram spec's
    * nextAfter case). ONE definition keeps the batch, stratified, and
    * streaming PSI siblings bin-identical by construction.
    */
  private[graft] def binExpr(v: Column, lo: Double, hi: Double, bins: Int): Column = {
    val w = (hi - lo) / bins
    least(floor((v - lo) / w), lit(bins - 1L)).cast("int")
  }

  /** Pearson correlation of two INTEGER-valued columns, from exact
    * long-typed sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy — all
    * exact as long as they stay under 2^53, which the caller guarantees
    * by passing bounded integer domains such as cents or counts):
    * r = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²) · sqrt(nΣy² − (Σy)²)),
    * evaluated in double in that fixed order. Inputs are cast to LONG
    * before any product forms: an IntegerType column would otherwise
    * wrap its products at 2^31 (non-ANSI) far below the documented
    * 2^53 contract, silently corrupting the correlation. One map-side
    * combinable aggregate over one scan. Output: one row (n, corr).
    */
  def corrExact(df: DataFrame, x: Column, y: Column): DataFrame = {
    requireIntegral(df, "corrExact", x, y)
    val xl = x.cast("long")
    val yl = y.cast("long")
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(xl).as("sx"), sum(yl).as("sy"),
      sum(xl * xl).as("sxx"), sum(yl * yl).as("syy"),
      sum(xl * yl).as("sxy"))
    agg.select(col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
        .as("corr"))
  }

  /** Flag every row whose integral `valueCol` exceeds mean + z·stddev
    * of the whole relation — the rate-spike / anomaly pass a pipeline
    * runs over bucketed counts (events per hour, docs per domain).
    * The threshold test is EXACT INTEGER arithmetic end to end:
    * x > μ + z·σ  ⟺  (n·x − Σx) > 0  ∧  (n·x − Σx)² > z²·(n·Σx² − (Σx)²)
    * with n, Σx, Σx² exact longs — no float compare whose boundary a
    * 1-ULP difference could flip between engines. The statistics count
    * NON-NULL values only (a row with a NULL value has no magnitude:
    * it neither shifts the threshold nor flags — its is_outlier is 0).
    * Integral input is enforced loudly, the [[corrExact]] contract;
    * the caller owns magnitudes (products under 2^63; bucket counts
    * always are). The input is evaluated twice (stats + flag) —
    * intended for already-aggregated bucket relations, which are
    * bounded by the bucket count.
    * Output: input columns + is_outlier (1 = above the high
    * threshold), every input row preserved.
    */
  def flagIntegerOutliers(df: DataFrame, valueCol: String, z: Int): DataFrame = {
    require(z >= 1, s"z must be >= 1, got $z")
    requireIntegral(df, "flagIntegerOutliers", col(valueCol))
    val v = col(valueCol).cast("long")
    val stats = df.agg(
      count(v).as("__st_n"),
      coalesce(sum(v), lit(0L)).as("__st_sx"),
      coalesce(sum(v * v), lit(0L)).as("__st_sxx"))
    val dev = v * col("__st_n") - col("__st_sx")
    df.crossJoin(broadcast(stats))
      .withColumn("is_outlier",
        coalesce(
          (dev > 0 && dev * dev >
            lit(z.toLong * z) * (col("__st_n") * col("__st_sxx") - col("__st_sx") * col("__st_sx")))
            .cast("long"),
          lit(0L)))
      .drop("__st_n", "__st_sx", "__st_sxx")
  }

  /** Population Stability Index between two corpus SNAPSHOTS over an
    * integral value column on a FIXED, caller-declared bin grid — the
    * drift monitor a pipeline runs between a published corpus version
    * and its daily successor ("did the token-length / quality-score
    * distribution move?"). The grid is data-independent (same [lo,hi)
    * x bins contract as [[histogram]]), so the report is deterministic
    * and two engines replay it bit for bit; each snapshot's bin shares
    * use Laplace smoothing p = (n+1)/(N+bins) — N the snapshot's
    * IN-RANGE row count — so a bin empty on one side contributes a
    * finite term instead of log(0). The report carries EVERY grid bin,
    * populated or not: under smoothing a bin empty on both sides still
    * contributes (q-p)·ln(q/p) with p = 1/(N_base+bins) and
    * q = 1/(N_cur+bins), which is nonzero whenever the snapshots'
    * in-range totals differ — dropping those bins would bias total PSI
    * low exactly when the corpus shrank or grew.
    *
    * Output: one row per grid bin — (bin, n_base, n_cur, psi_term),
    * psi_term rounded to 6 places; total PSI = sum(psi_term)
    * (conventional alert bands: < 0.1 quiet, 0.1-0.25 drifting,
    * > 0.25 shifted).
    *
    * Scale shape: one scan + one map-side-combinable count aggregate
    * per snapshot (the [[histogram]] plan), two joins against a
    * bins-row grid relation, and two single-row broadcast totals — the
    * corpora are never joined to each other.
    */
  def populationStability(
      baseline: DataFrame,
      current: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      bins: Int
  ): DataFrame = {
    requireIntegral(baseline, "populationStability", col(valueCol))
    requireIntegral(current, "populationStability", col(valueCol))
    val hb = histogram(baseline, valueCol, lo, hi, bins)
      .select(col("bin"), col("n").as("n_base"))
    val hc = histogram(current, valueCol, lo, hi, bins)
      .select(col("bin"), col("n").as("n_cur"))
    val grid = baseline.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    val joined = grid
      .join(hb, Seq("bin"), "left_outer")
      .join(hc, Seq("bin"), "left_outer")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(
      sum("n_base").as("__ps_nb"), sum("n_cur").as("__ps_nc"))
    val p = (col("n_base") + 1).cast("double") / (col("__ps_nb") + bins).cast("double")
    val q = (col("n_cur") + 1).cast("double") / (col("__ps_nc") + bins).cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_base"), col("n_cur"),
        round((q - p) * log(q / p), 6).as("psi_term"))
  }

  /** Stratified [[populationStability]] — drift measured WITHIN each
    * stratum (language, source domain), the report a multilingual
    * corpus publisher actually reads: a stable global mix can hide one
    * language's length distribution collapsing, and vice versa a
    * deliberate mix rebalance reads as global drift while every
    * stratum is individually stable. Same fixed grid, same Laplace
    * smoothing, but shares and totals are PER STRATUM, and the full
    * grid is carried per stratum (the both-empty-bin term matters
    * whenever a stratum's totals differ between snapshots). Strata are
    * the union observed in either snapshot's INPUT ROWS — before the
    * in-range filter, not derived from the histograms — so a stratum
    * present only in one side still reports (all its mass against
    * smoothed-empty opposite bins), and a stratum whose rows are ALL
    * out-of-grid or null-valued in both snapshots still reports a full
    * grid of n_base=n_cur=0 rows instead of vanishing: that case is
    * exactly the upstream-corruption signal (every value suddenly
    * outside the expected range), and the never-silent stance
    * [[graft.streaming.Streams.psiPerWindow]] contracts holds here too
    * — 0 IS the alert. NULL strata are dropped: an unlabeled doc has
    * no stratum to drift within.
    *
    * Output: (strataCol, bin, n_base, n_cur, psi_term); per-stratum
    * PSI = sum(psi_term) grouped by the stratum.
    *
    * Scale shape: one scan + one (stratum, bin) hash aggregate per
    * snapshot, a strata-x-bins grid built from the (tiny) distinct
    * strata relation, and per-stratum totals as one more tiny
    * aggregate joined back broadcast — corpora never join each other,
    * nothing collects.
    */
  def populationStabilityBy(
      baseline: DataFrame,
      current: DataFrame,
      valueCol: String,
      strataCol: String,
      lo: Double,
      hi: Double,
      bins: Int
  ): DataFrame = {
    require(bins >= 1 && hi > lo, s"bad grid [$lo, $hi) / $bins")
    requireIntegral(baseline, "populationStabilityBy", col(valueCol))
    requireIntegral(current, "populationStabilityBy", col(valueCol))
    def hist(df: DataFrame, n: String) = df
      .where(col(strataCol).isNotNull && inRangeExpr(col(valueCol), lo, hi))
      .select(col(strataCol), binExpr(col(valueCol), lo, hi, bins).as("bin"))
      .groupBy(col(strataCol), col("bin"))
      .agg(count(lit(1)).as(n))
    val hb = hist(baseline, "n_base")
    val hc = hist(current, "n_cur")
    // the strata relation comes from the PRE-filter inputs: deriving
    // it from hb/hc would silently drop any stratum whose rows are all
    // out-of-grid (or all null-valued) in both snapshots — silent in
    // precisely the upstream-corruption case this report exists to
    // catch. One distinct over each input's stratum column only.
    val strata = baseline.select(col(strataCol))
      .unionByName(current.select(col(strataCol)))
      .where(col(strataCol).isNotNull).distinct()
    val grid = strata.crossJoin(
      baseline.sparkSession.range(bins).select(col("id").cast("int").as("bin")))
    val joined = grid
      .join(hb, Seq(strataCol, "bin"), "left_outer")
      .join(hc, Seq(strataCol, "bin"), "left_outer")
      .select(col(strataCol), col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.groupBy(col(strataCol)).agg(
      sum("n_base").as("__ps_nb"), sum("n_cur").as("__ps_nc"))
    val p = (col("n_base") + 1).cast("double") / (col("__ps_nb") + bins).cast("double")
    val q = (col("n_cur") + 1).cast("double") / (col("__ps_nc") + bins).cast("double")
    joined.join(broadcast(totals), Seq(strataCol))
      .select(col(strataCol), col("bin"), col("n_base"), col("n_cur"),
        round((q - p) * log(q / p), 6).as("psi_term"))
  }

  /** Categorical [[populationStability]] — drift over a LABEL column
    * (language mix, source-domain mix: the first thing a corpus
    * publisher watches between releases), where the numeric grid makes
    * no sense. The bin domain is the union of categories OBSERVED in
    * either snapshot, so a category that appears or vanishes entirely
    * still reports (its mass against a smoothed-empty opposite count —
    * the largest legitimate psi_term, exactly the alert). Laplace
    * smoothing uses that observed-domain size as the pseudo-count
    * denominator, mirroring the numeric form's `bins`. NULL categories
    * are dropped: an unlabeled doc has no category to drift within
    * (label-coverage drift is [[snapshotDiff]]/count territory).
    *
    * Output: (catCol, n_base, n_cur, psi_term); PSI = sum(psi_term).
    * Same laws as the numeric form: swap-symmetric (the term is
    * antisymmetry-free in (p, q)), zero on identical snapshots.
    *
    * Scale shape: one scan + one map-side-combinable count aggregate
    * per snapshot, then ONE hash full-outer join between the two
    * category-sized count relations (which IS the observed-domain
    * grid — no separate strata pass) and a single-row broadcast totals
    * relation carrying the domain size; the corpora never join each
    * other, nothing collects.
    */
  def populationStabilityCat(
      baseline: DataFrame,
      current: DataFrame,
      catCol: String
  ): DataFrame = {
    def hist(df: DataFrame, n: String) = df
      .where(col(catCol).isNotNull)
      .groupBy(col(catCol)).agg(count(lit(1)).as(n))
    val joined = hist(baseline, "n_base")
      .join(hist(current, "n_cur"), Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // the observed-category domain size rides the totals row — it is a
    // data property here, not a caller-fixed grid parameter
    val totals = joined.agg(
      sum("n_base").as("__ps_nb"), sum("n_cur").as("__ps_nc"),
      count(lit(1)).as("__ps_k"))
    val p = (col("n_base") + 1).cast("double") / (col("__ps_nb") + col("__ps_k")).cast("double")
    val q = (col("n_cur") + 1).cast("double") / (col("__ps_nc") + col("__ps_k")).cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col(catCol), col("n_base"), col("n_cur"),
        round((q - p) * log(q / p), 6).as("psi_term"))
  }

  /** Fixed-point encoder for the exact-integer contract: a continuous
    * drift target (perplexity, a quality score) scaled by `factor` and
    * rounded HALF_UP to a long — the sanctioned escape hatch from
    * [[requireIntegral]]'s refusal. The caller owns the factor (1000 =
    * three decimals survive); NaN/Infinity are upstream data bugs and
    * FAIL here explicitly (raise_error), in every cast mode — under
    * legacy (non-ANSI) casting NaN→long silently yields 0 and
    * Infinity saturates, exactly the silent-zero corruption a drift
    * metric must never absorb, so the guard cannot be left to the
    * session's ANSI flag. NULL passes through as NULL (absent, not
    * broken). Deliberately a
    * COLUMN helper, not an operator option — the encoding choice must
    * be visible at the call site where the grid [lo, hi) is chosen,
    * because the two must agree (PSI over values scaled by 1000 needs
    * a grid in thousandths).
    *
    * It keeps Spark's `round`, unlike the BigDecimal-free
    * `SparkEntry.halfUpLong` behind the core queries' cents: the input
    * type belongs to the caller, and a DECIMAL input rounds on Spark's
    * decimal path, which a double-only form would not reproduce.
    */
  def scaleToLong(c: Column, factor: Long): Column = {
    require(factor > 0, s"scaleToLong: factor must be positive, got $factor")
    val d = c.cast("double")
    when(isnan(d) || d === Double.PositiveInfinity || d === Double.NegativeInfinity,
        raise_error(concat(lit("scaleToLong: non-finite input "), d.cast("string"),
          lit(" — fix the upstream metric; a drift grid cannot encode NaN/Infinity"))))
      .otherwise(round(c * factor, 0).cast("long"))
  }

  /** Per-document diff between two corpus snapshots by content
    * fingerprint — the change report published beside a corpus
    * version: `added` (id only in current), `removed` (id only in
    * baseline), `changed` (both, different text), `unchanged`. One
    * full-outer hash join on the id; only (id, md5) pairs shuffle,
    * never text. Null text fingerprints NULL and compares null-safely,
    * so a doc whose text is null in both snapshots is `unchanged`
    * (unknown contents did not observably change) while null-vs-text
    * is `changed`.
    *
    * Contract: ids must be UNIQUE within each snapshot — the id is the
    * join key, so a duplicated id fans out into one status row per
    * matched pair (the same new-ids contract every incremental tier
    * here has). A snapshot with ingest duplication should pass through
    * exact dedup first; downstream, `groupBy(id).count > 1` over this
    * output surfaces a violation loudly rather than silently.
    */
  def snapshotDiff(
      baseline: DataFrame,
      current: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val b = baseline.select(col(idCol).as("__sd_bid"), md5(col(textCol).cast("binary")).as("__sd_bfp"))
    val c = current.select(col(idCol).as("__sd_cid"), md5(col(textCol).cast("binary")).as("__sd_cfp"))
    b.join(c, b("__sd_bid") === c("__sd_cid"), "full_outer")
      .select(
        coalesce(col("__sd_bid"), col("__sd_cid")).as(idCol),
        when(col("__sd_bid").isNull, lit("added"))
          .when(col("__sd_cid").isNull, lit("removed"))
          .when(col("__sd_bfp") <=> col("__sd_cfp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The shared exact-integer input guard: a fractional column would
    * truncate toward zero in the long casts these operators apply
    * before forming products, silently biasing the result — the caller
    * owns the fixed-point encoding (cents, counts); the operator owns
    * exactness within it.
    */
  private[graft] def requireIntegral(df: DataFrame, op: String, cols: Column*): Unit = {
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    df.select(cols: _*).schema.fields.foreach { f =>
      require(integral.contains(f.dataType),
        s"$op: input '${f.name}' is ${f.dataType.simpleString}; the exact-integer-" +
          "sufficient-statistics contract needs an integral column — encode fractional " +
          "data as fixed-point integers (e.g. cents) first")
    }
  }
}
