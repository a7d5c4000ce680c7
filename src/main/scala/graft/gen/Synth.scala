package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic token-table generator: pure `f(seed, i)` over
 * `spark.range` — no `rand()`, no wall clock — so every run at every
 * parallelism level produces byte-identical rows (BASELINE.md correctness
 * gate; SURVEY.md §7.4 determinism requirement).
 *
 * Shape per FIXTURES.md §1:
 *   doc_id  unique, hash-distributed hex (+ row ordinal for collision-free
 *           uniqueness — the hash prefix still drives the shuffle
 *           distribution);
 *   tokens  per-row reproducible pseudo-stream, vocab 50,257, generated with
 *           a Catalyst higher-order function (transform∘sequence) — the same
 *           pattern the reference uses for array columns
 *           (/root/reference/spark/lib/utils.py:100-103) — so generation is
 *           fully codegen'd and distributed;
 *   n_tok   log-uniform in [minTok, maxTok], invariant n_tok == size(tokens);
 *   source  Zipf-skewed categorical, hot key "web" ≈ 45% — drives the
 *           salted-merge / AQE skew paths.
 */
object Synth {

  /** (label, cumulative per-mille threshold). web is deliberately hot. */
  val sourceCdf: Seq[(String, Int)] = Seq(
    "web" -> 450, "books" -> 580, "code" -> 680, "wiki" -> 760,
    "news" -> 820, "social" -> 870, "papers" -> 910, "forums" -> 940,
    "patents" -> 960, "legal" -> 980, "subtitles" -> 990, "math" -> 1000)

  val sources: Seq[String] = sourceCdf.map(_._1)

  val vocabSize = 50257

  private def pick(u: Column): Column =
    sourceCdf.init.foldRight(lit(sourceCdf.last._1): Column) {
      case ((label, cum), elseC) => when(u < cum, label).otherwise(elseC)
    }

  /** Narrow columns only (no token arrays) — cheap to generate and to
    * shuffle. Keeps the row ordinal `id` so the arrays can be materialized
    * later (post-exchange). */
  def tableNarrow(spark: SparkSession, rows: Long, seed: Long = 42L,
      minTok: Int = 16, maxTok: Int = 2048): DataFrame = {
    val id = col("id")
    val lnMin = math.log(minTok.toDouble)
    val lnMax = math.log(maxTok.toDouble)
    spark.range(rows)
      .withColumn("doc_id",
        concat(lpad(lower(hex(xxhash64(id, lit(seed)))), 16, "0"), lit("-"), id))
      .withColumn("source",
        pick(pmod(xxhash64(id, lit(seed + 1)), lit(1000))))
      .withColumn("n_tok",
        floor(exp(lit(lnMin) +
          (pmod(xxhash64(id, lit(seed + 2)), lit(1000000)).cast("double") / 1e6) *
          lit(lnMax - lnMin))).cast("int"))
  }

  /** Materialize the token array from (id, n_tok) — native codegen'd
    * expression, NOT a Catalyst HOF: `transform(sequence(...), ...)` runs
    * its lambda interpreted per element (~10^8 boxed evals at 10^6 rows),
    * which showed up as a GC collapse that scaled INVERSELY with threads.
    * graft.functions.TokenGen fills a primitive int[] per row inside
    * whole-stage codegen. */
  def withTokens(df: DataFrame, seed: Long = 42L): DataFrame =
    df.withColumn("tokens",
      graft.functions.TokenGen.tokens(col("id"), col("n_tok"), seed + 3, vocabSize))

  /** `rows` TokenRow-shaped rows, deterministic in (seed, rows, tok range). */
  def table(spark: SparkSession, rows: Long, seed: Long = 42L,
      minTok: Int = 16, maxTok: Int = 2048): DataFrame =
    withTokens(tableNarrow(spark, rows, seed, minTok, maxTok), seed)
      .select("doc_id", "tokens", "n_tok", "source")

  /**
   * Generate + range-distribute into ~`files` write tasks, SCALE-SHAPED:
   * the exchange carries only the narrow columns (doc_id, n_tok, source,
   * id); token arrays are materialized AFTER the shuffle, inside the write
   * stage. At 10^12 sequences the equivalent rule is "shuffle keys and
   * pointers, materialize payloads post-exchange" — it shrinks exchange
   * bytes by the payload factor (~100x here) and range-sampling never
   * evaluates the arrays at all.
   *
   * The (source, doc_id-range) boundaries are ANALYTIC, not sampled: the
   * doc_id prefix is a uniform hex hash by construction and the source
   * distribution is the known CDF, so bins per source ∝ source probability
   * and uniform cuts of the 7-hex-char prefix space give balanced files
   * with zero sampling jobs — `repartitionByRange` would execute the
   * generator twice (reservoir-sample pass + exchange) and vary layout
   * with the core count (ADVICE r2 #2 pattern).
   */
  def tableDistributed(spark: SparkSession, rows: Long, seed: Long = 42L,
      files: Int = 256, minTok: Int = 16, maxTok: Int = 2048): DataFrame = {
    val space = 1L << 28 // 16^7 values of the 7-hex-char doc_id prefix
    val widths = sourceCdf.zip(0 +: sourceCdf.map(_._2).init)
      .map { case ((label, cum), prev) => (label, cum - prev) }
    val pieces = widths.map { case (label, w) =>
      val n = math.max(1, math.round(files * w / 1000.0).toInt)
      label -> Array.tabulate(n - 1)(k => (k + 1).toLong * space / n)
    }
    val (binCol, nBins) = graft.functions.RangeBin.bySource(col("source"),
      conv(substring(col("doc_id"), 1, 7), 16, 10).cast("long"), pieces)
    val narrow = tableNarrow(spark, rows, seed, minTok, maxTok)
      .withColumn("__bk", binCol)
      .repartitionById(nBins, col("__bk"))
      .drop("__bk")
    withTokens(narrow, seed).select("doc_id", "tokens", "n_tok", "source")
  }

  /**
   * MERGE change-set fixture (FIXTURES.md §2): rows keyed so a fraction hit
   * existing doc_ids (updates/deletes) and the rest are new inserts.
   * `_op` ∈ {upsert, delete}. Updated token arrays differ from the target's
   * (different generation seed), deletes target existing keys.
   *
   *  - ids in [0, baseRows)               → existing keys
   *  - ids in [baseRows, baseRows+extra)  → new keys
   */
  def changeSet(spark: SparkSession, baseRows: Long, seed: Long = 42L,
      updates: Long = 1000, inserts: Long = 500, deletes: Long = 200,
      minTok: Int = 16, maxTok: Int = 2048): DataFrame = {
    // key selection runs on the NARROW frame and picks rows by a hash
    // THRESHOLD (≈ the requested count, deterministic) — a global
    // orderBy+limit top-k at 10^5-k sizes is a single-reducer sort that
    // would dominate the merge benchmark it feeds
    def narrow = tableNarrow(spark, baseRows, seed, minTok, maxTok)
    def pick(salt: Long, n: Long) = narrow
      .withColumn("rk", pmod(xxhash64(col("doc_id"), lit(salt)), lit(1000000)))
      .filter(col("rk") < lit(math.max(1L, n * 1000000L / math.max(1L, baseRows))))
      .drop("rk")
    val upd = withTokens(pick(seed + 10, updates),
        seed + 100) // different payload seed → differs from target in ≥1 element
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        lit("upsert").as("_op"))
    val del = withTokens(pick(seed + 12, deletes),
        seed) // original payload
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        lit("delete").as("_op"))
    val ins = table(spark, inserts, seed + 13, minTok, maxTok)
      .withColumn("doc_id", concat(lit("new-"), col("doc_id")))
      .withColumn("_op", lit("upsert"))
    upd.unionByName(del).unionByName(ins)
  }

  /**
   * Range-LOCAL change set: every touched key falls in one doc_id prefix
   * slice (1/16 of the key space). Against a doc_id-clustered layout this
   * is the workload where MERGE's manifest-range pruning pays — the
   * benchmark reports its touched-file ratio next to the uniform
   * change-set's (which necessarily touches everything).
   */
  def changeSetLocal(spark: SparkSession, baseRows: Long, seed: Long = 42L,
      updates: Long = 1000, minTok: Int = 16, maxTok: Int = 2048): DataFrame = {
    val slice = baseRows / 16 // keys starting "0" ≈ 1/16 of the table
    val thresh = math.max(1L, updates * 1000000L / math.max(1L, slice))
    withTokens(tableNarrow(spark, baseRows, seed, minTok, maxTok)
        .filter(col("doc_id").startsWith("0"))
        .withColumn("rk", pmod(xxhash64(col("doc_id"), lit(seed + 20)), lit(1000000)))
        .filter(col("rk") < lit(thresh)).drop("rk"),
        seed + 101)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        lit("upsert").as("_op"))
  }
}
