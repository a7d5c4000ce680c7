package graft.maint

import java.nio.file.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft._
import graft.functions.{Boundaries, KeyMapCode, PrefixCode, RangeBin}
import graft.lineage.{LineageLog, LineageRecord}
import graft.meta.{DataFile, Snapshot}

/**
 * MERGE INTO over the token table: upsert/delete a change-set Dataset keyed
 * on doc_id, executed as independent per-range merge units. Neither
 * execution path joins: change-sets up to `BroadcastSourceRows` probe a
 * broadcast doc_id key map inside the target scan (`broadcastMergeWrite`),
 * larger ones run a fused window run-scan over the unioned target and
 * source rows (`fusedMergeWrite`). `mergeFrames` is the SortMergeJoin
 * reference both paths are spec-checked against.
 *
 * Semantics preserved from the reference (SURVEY.md §7.5):
 *  - source dedup uses the reference's rank-to-1 pattern
 *    (/root/reference/spark/jobs/silver/drivers.py:57-66) with a total-order
 *    tiebreak (delete beats upsert, then lexicographic payload hash) so ties
 *    are deterministic — the reference's version is tie-nondeterministic,
 *    flagged in SURVEY.md §2.5 W2;
 *  - the commit is a partition-scoped file swap like dynamic partition
 *    overwrite (/root/reference/spark/jobs/silver/meetings.py:19,68-73):
 *    untouched files and manifests carry through byte-identical;
 *  - post-merge doc_id uniqueness is the reference's
 *    expect_column_values_to_be_unique invariant
 *    (/root/reference/spark/jobs/tests/dq_expectations.py:3).
 *
 * PROVENANCE CONTRACT (uniform across both execution paths — ADVICE r3 #1
 * closed the round-3 divergence where the broadcast path silently applied
 * what the run-scan path aborted on): `source` is row provenance, like the
 * reference's silver lineage columns, and an upsert/delete must carry the
 * stored row's `source`. A violating change-set aborts with
 * `MergeContractViolation` BEFORE any commit, on either path. Moving a
 * document between sources is expressed as delete(old source) in one merge
 * followed by upsert(new source) in the next.
 *
 * Scale design (all decisions metadata-sized; no per-row driver work):
 *
 *  1. PLANNING — for change-sets up to `broadcastThreshold` rows, ONE
 *     collect job returns (doc_id, op, source, row-hash) and the driver
 *     derives everything: key cells for file stabbing, the content
 *     fingerprint, the key→source map for the broadcast path, insert
 *     sizing. (Round 3 paid three planning jobs — cell aggregation,
 *     key-set collect, and the cache materialization they straddled —
 *     ~3 s of the merge stage's serial share.) Larger change-sets fall
 *     back to an aggregation-based cell summary (collect stays bounded
 *     at ≤ 65k cells regardless of source size).
 *
 *  2. TOUCHED FILES — the change-set's doc_id space is summarized as the
 *     set of distinct 4-byte key prefixes ("cells"). A file is touched iff
 *     a cell stabs its [min,max] doc_id span — one binary search per file
 *     ON THE DRIVER: O((files+cells)·log cells), zero joins. Prefix
 *     granularity is conservative-safe: a false-positive touched file is
 *     re-emitted unchanged.
 *
 *  3. MERGE UNITS — touched files are grouped into connected components of
 *     overlapping doc_id spans (driver sweep over sorted spans), then
 *     capped at ceil(touchedBytes / unitTargetBytes) units by merging
 *     adjacent components. Unit COUNT grows with the touched bytes — a
 *     crash-resume re-runs at most ~unitTargetBytes of work even on a
 *     full-table merge at 100 TB (VERDICT r3 next-step 5; the round-3
 *     hard cap of 32 units made ~3 TB resume quanta at that scale) —
 *     while unit CONCURRENCY stays bounded by the execution pool.
 *     Component ranges are DISJOINT, so every source key routes to exactly
 *     one unit (or to the insert unit) via a codegen'd binary-search
 *     expression. Each unit is one Spark job, resumable through the
 *     lineage log; its staged files are footer-statted INSIDE the unit
 *     thunk so the commit pays no serial manifest work.
 *
 *  4. RESUME SAFETY — the pass id folds in a content fingerprint of the
 *     deduped change-set AND the chosen execution path, so a crashed merge
 *     resumed with a different source or a flipped path choice (ADVICE r3
 *     #3) never reuses stale staged output.
 *
 *  5. OUTPUT LAYOUT — on the run-scan path each unit's merged rows are
 *     range-binned by (source, doc_id-prefix) with boundaries computed ON
 *     THE DRIVER from the unit's own manifest byte/span stats
 *     (Boundaries.fromFileStats): one pass, no repartitionByRange
 *     sampling, no persist, and a layout that is byte-identical at every
 *     parallelism level. The key-map path copies kept rows forward in
 *     scan order (see `broadcastMergeWrite`).
 *
 *  6. Keys are unique doc_ids, hash-distributed by construction (doc_id
 *     carries an xxhash64 prefix), so per-key skew is impossible on either
 *     path: the key-map probe streams the target scan with no exchange,
 *     and the run-scan's one exchange is into range bins sized from
 *     manifest bytes.
 */
/** Thrown when a merge change-set violates the source-immutability
  * contract (an upsert/delete carries a different `source` than the stored
  * row). Raised BEFORE the commit — the table is untouched. */
final class MergeContractViolation(msg: String) extends RuntimeException(msg)

object Merge {

  /** Change-set schema: TokenRow columns + `_op` in {upsert, delete}. */
  val opCol = "_op"

  /** Key-cell granularity: 4-byte order-preserving prefix. For the hex
    * doc_id population this bounds the summary at 16^4 = 65,536 cells, so
    * the planning collect stays ~0.2 s regardless of change-set size
    * (6 chars made the collect O(distinct keys) — measured ~1.5-2 s of
    * pure driver serial time at a 134k-row change-set). Cell width
    * (1/65,536 of key space) is far finer than any file span the stabbing
    * has to test; coarser granularity is conservative-SAFE (false-positive
    * touched files are re-emitted unchanged). */
  val RouteChars = 4

  /** Max distinct key cells collected to the driver (longs — 8 MB at cap).
    * Overflow degrades to coarser 3-byte cells, then to all-files-touched
    * (correctness-safe: merge re-emits untouched rows unchanged). */
  val CellCap: Int = 1 << 20

  /** Target bytes per merge unit — the resume/checkpoint quantum. Units
    * are for resumability + bounded job size; slicing a small touched set
    * into many tiny units just multiplies per-job fixed costs (measured:
    * 32 units over 1.2 GB ran 12x slower than 3 units, all of it
    * scheduler+GC churn). 2 GB: a unit's INTERNAL parallelism is its
    * output bins (~unitBytes / targetFileBytes reduce tasks), so one 2 GB
    * unit saturates a node by itself, while span-component units below
    * this size ride along in the same job wave. Unit COUNT is
    * ceil(touchedBytes / this) — uncapped, so resume loss stays bounded
    * by ~2 GB at any table size; only unit CONCURRENCY is pooled. */
  val UnitTargetBytes: Long = 2048L * 1024 * 1024

  /** Bounded concurrency for unit execution (each unit is one internally
    * parallel Spark job; a handful in flight keeps all slots busy). */
  val UnitPool = 8

  /** Change-set columns beyond the base (TokenRow + op) shape — evolved
    * (addColumn) columns the caller supplies. Sorted for a deterministic
    * fingerprint/ordering regardless of the caller's select order. */
  private def srcExtraCols(df: DataFrame): Seq[String] = {
    val base = TokenRow.schema.fieldNames.toSet + opCol
    df.columns.filterNot(base.contains).sorted.toSeq
  }

  /** Deterministic source dedup: exactly one action per doc_id.
    * delete < upsert lexicographically — delete wins ties; among upserts the
    * lexicographically-least token fingerprint wins. Evolved columns join
    * the tie-break (ADVICE r4 #1): without them, duplicate-key rows that
    * differ ONLY in an evolved column's value would be picked
    * nondeterministically — and the content fingerprint (pass id) built
    * from the winner would not be a pure function of the change-set. */
  def dedupSource(src: DataFrame): DataFrame = {
    val tieBreak = Seq(col(opCol).asc, xxhash64(col("tokens")).asc,
      col("n_tok").asc, col("source").asc) ++
      srcExtraCols(src).map(c => col(c).asc)
    val w = Window.partitionBy(col("doc_id")).orderBy(tieBreak: _*)
    src.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Max prefix code of all-ASCII keys at c bytes (0x7f per byte). */
  private def maxCode(c: Int): Long =
    (0 until c).foldLeft(0L)((v, _) => (v << 8) | 0x7f)

  /** [lo,hi] span of a file's doc_id stats in c-byte prefix space;
    * missing stats → the whole key space (conservative). */
  private def spanOf(f: DataFile, c: Int): (Long, Long) =
    f.stats.get("doc_id") match {
      case Some(s) if s.min != null && s.max != null =>
        (PrefixCode.encode(s.min, c), PrefixCode.encode(s.max, c))
      case _ => (0L, maxCode(c))
    }

  /** One cell of the change-set summary: sorted key-prefix cell, its row
    * count, non-delete count, and content-fingerprint partial sum. */
  final case class CellStat(cell: Long, n: Long, nUpserts: Long,
      fp: java.math.BigInteger)

  /** Everything the driver plan needs, from ONE job when the change-set is
    * small (the common CDC shape), or from the aggregation fallback:
    * cell summary, content fingerprint, exact-or-lower-bound row count,
    * and (small path only) the doc_id→claimed-source map. */
  final case class MergePlan(cellChars: Int, cells: Option[Seq[CellStat]],
      srcFp: String, srcRows: Long,
      keyMap: Option[java.util.HashMap[UTF8String, UTF8String]])

  /** Content fingerprint of one change-set row — the pass id is a sum of
    * these, so it must cover the FULL row: evolved (addColumn) columns the
    * change-set supplies are folded in (ADVICE r4 #1 — without them a
    * crashed merge resumed with a change-set differing only in an evolved
    * column's values got the SAME pass id and silently reused stale staged
    * unit output). Base-shape change-sets hash exactly as before, so
    * existing pass ids are unchanged. */
  private def rowHash(df: DataFrame): Column =
    xxhash64(Seq(col("doc_id"), col(opCol), col("n_tok"), col("tokens"),
      col("source")) ++ srcExtraCols(df).map(col): _*)

  /** Two-job plan for change-sets of ≤ collectCap deduped rows: an exact
    * count (the job that also materializes the cache the unit jobs read),
    * then — only when it fits — a single narrow collect (doc_id, op,
    * source, row-hash; token arrays hashed executor-side, never
    * collected). The count makes the collect safe BY CONSTRUCTION (≤ cap
    * rows ever reach the driver) and replaces the previous
    * `limit(cap+1).collect()`, whose CollectLimitExec partition ramp ran
    * up to three sequential jobs (1, then 4×, then the rest) — two extra
    * job floors of pure serial time per merge at every parallelism level.
    * Falls back to `cellStats` aggregation when the count overflows. */
  def planSummary(src: DataFrame, collectCap: Long): MergePlan = {
    val capInt = math.min(collectCap, 2000000L).toInt // driver-heap bound
    val n = if (capInt <= 0) Long.MaxValue else src.count()
    val rows =
      if (n > capInt) Array.empty[org.apache.spark.sql.Row]
      else src.select(col("doc_id"), col(opCol), col("source"),
          rowHash(src).as("h"))
        .collect()
    if (capInt > 0 && n <= capInt) {
      val keyMap = new java.util.HashMap[UTF8String, UTF8String](rows.length * 2)
      val byCell = scala.collection.mutable.HashMap
        .empty[Long, (Long, Long, java.math.BigInteger)]
      rows.foreach { r =>
        val doc = r.getString(0)
        keyMap.put(UTF8String.fromString(doc), UTF8String.fromString(r.getString(2)))
        val cell = PrefixCode.encode(doc, RouteChars)
        val up = if (r.getString(1) != "delete") 1L else 0L
        val h = java.math.BigInteger.valueOf(r.getLong(3))
        val (n, nu, fp) = byCell.getOrElse(cell,
          (0L, 0L, java.math.BigInteger.ZERO))
        byCell(cell) = (n + 1, nu + up, fp.add(h))
      }
      val cells = byCell.toSeq.map { case (c, (n, nu, fp)) =>
        CellStat(c, n, nu, fp) }.sortBy(_.cell)
      val fp = cells.foldLeft(java.math.BigInteger.ZERO)((a, c) => a.add(c.fp))
      MergePlan(RouteChars, Some(cells),
        if (rows.isEmpty) "empty" else fp.toString(16).takeRight(16),
        rows.length, Some(keyMap))
    } else {
      val (cellChars, statsOpt) = cellStats(src)
      statsOpt match {
        case Some(st) =>
          val fp = st.foldLeft(java.math.BigInteger.ZERO)((a, c) => a.add(c.fp))
          MergePlan(cellChars, Some(st),
            if (st.isEmpty) "empty" else fp.toString(16).takeRight(16),
            st.iterator.map(_.n).sum, None)
        case None =>
          // > CellCap distinct cells even at 3 bytes: fingerprint in a
          // fallback job, all files treated as touched
          val fpRow = src.agg(sum(rowHash(src).cast("decimal(38,0)")).as("fp"))
            .collect()(0)
          MergePlan(cellChars, None,
            if (fpRow.isNullAt(0)) "empty"
            else fpRow.getDecimal(0).toBigInteger.toString(16).takeRight(16),
            Long.MaxValue, None)
      }
    }
  }

  /** Aggregation-based change-set summary (the big-source path): sorted
    * distinct key cells with per-cell counts and fingerprint partials in
    * one job. Returns None cells on cap overflow. */
  def cellStats(src: DataFrame): (Int, Option[Seq[CellStat]]) = {
    def collect(c: Int): Option[Seq[CellStat]] = {
      // fingerprint includes `source`: a contract-violating change-set that
      // aborted the merge must not share a pass id (hence staged output)
      // with its corrected re-submission
      val rows = src.groupBy(PrefixCode.code(col("doc_id"), c).as("cell"))
        .agg(count(lit(1)).as("n"),
          count(when(col(opCol) =!= "delete", 1)).as("nu"),
          sum(rowHash(src).cast("decimal(38,0)")).as("fp"))
        .limit(CellCap + 1).collect()
      if (rows.length > CellCap) None
      else Some(rows.map(r => CellStat(r.getLong(0), r.getLong(1),
        r.getLong(2), Option(r.getDecimal(3)).map(_.toBigInteger)
          .getOrElse(java.math.BigInteger.ZERO))).sortBy(_.cell).toSeq)
    }
    collect(RouteChars) match {
      case Some(cs) => (RouteChars, Some(cs))
      case None => (3, collect(3))
    }
  }

  /** Any cell in [lo, hi]? (binary search over the sorted cell array) */
  private def anyCellIn(cells: Array[Long], lo: Long, hi: Long): Boolean = {
    var a = 0; var b = cells.length
    while (a < b) { val m = (a + b) >>> 1; if (cells(m) < lo) a = m + 1 else b = m }
    a < cells.length && cells(a) <= hi
  }

  /** One independent merge unit: a disjoint [lo,hi] slice of key space and
    * the touched files whose spans fall inside it. */
  final case class MergeUnit(id: Int, lo: Long, hi: Long, files: Seq[DataFile]) {
    def key: String = s"u$id:$lo:$hi"
    def bytes: Long = files.iterator.map(_.bytes).sum
    def rows: Long = files.iterator.map(_.rows).sum
  }

  /**
   * Plan merge units: connected components of overlapping file spans,
   * byte-merged DOWN to ~unitTargetBytes when fragmented and byte-SPLIT
   * when oversized, so unit count ≈ ceil(touchedBytes / unitTargetBytes)
   * at any span structure (VERDICT r3 next-step 5: on a multi-source
   * table, every source partitions the same doc_id range, so ALL spans
   * interleave into ONE component — component boundaries alone gave a
   * single unit, i.e. an unbounded resume quantum).
   *
   * Splitting cuts a component's range at byte-mass quantiles derived
   * from its file spans (Boundaries.fromFileStats). A file whose span
   * crosses a cut is listed in BOTH sub-units; each unit's scan applies a
   * doc_id range filter (see `unitRangeFilter`) so every ROW still lands
   * in exactly one unit. Cut points are snapped to ASCII-safe prefix
   * codes (PrefixCode.asciiFloor) so the scan's pushdown-friendly STRING
   * bound agrees exactly with the NUMERIC prefix-code routing of change
   * rows — the two sides of a cut can never disagree about a key.
   * Boundary-crossing files cost a re-read of only the row groups the
   * parquet reader cannot prune; on range-clustered layouts that is ~one
   * row group per source per cut. (Hash-clustered insert files span a
   * whole source and are re-read by every unit they glue — bounded by the
   * last merge's insert volume, and the next compact folds them in.)
   */
  def planUnits(touched: Seq[DataFile], c: Int, unitTargetBytes: Long): Seq[MergeUnit] = {
    if (touched.isEmpty) return Seq.empty
    val sorted = touched.map(f => (spanOf(f, c), f)).sortBy(x => (x._1._1, x._1._2))
    val comps = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, scala.collection.mutable.ArrayBuffer[DataFile])]
    for (((lo, hi), f) <- sorted) {
      if (comps.nonEmpty && lo <= comps.last._2) {
        val (clo, chi, cfs) = comps.last
        cfs += f
        comps(comps.length - 1) = (clo, math.max(chi, hi), cfs)
      } else comps += ((lo, hi, scala.collection.mutable.ArrayBuffer(f)))
    }
    val totalBytes = touched.iterator.map(_.bytes).sum
    val wanted = math.max(1L,
      math.ceil(totalBytes.toDouble / unitTargetBytes).toLong)
    // fragmented: merge the adjacent pair with the fewest combined BYTES —
    // units are executed as concurrent jobs, so the slowest unit sets the
    // stage wall time; byte balance matters, file count does not
    while (comps.length > wanted) {
      var best = 0; var bestN = Long.MaxValue
      var i = 0
      while (i < comps.length - 1) {
        val n = comps(i)._3.iterator.map(_.bytes).sum +
          comps(i + 1)._3.iterator.map(_.bytes).sum
        if (n < bestN) { bestN = n; best = i }
        i += 1
      }
      val (alo, _, afs) = comps(best)
      val (_, bhi, bfs) = comps(best + 1)
      comps(best) = (alo, bhi, afs ++= bfs)
      comps.remove(best + 1)
    }
    // oversized: split at ASCII-snapped byte-mass quantiles of the spans
    val units = comps.toSeq.flatMap { case (lo, hi, fs) =>
      val bytes = fs.iterator.map(_.bytes).sum
      val k = math.max(1L, math.round(bytes.toDouble / unitTargetBytes))
      if (k < 2) Seq((lo, hi, fs.toSeq))
      else {
        val spans = fs.map { f => val (a, b) = spanOf(f, c); (a, b, f.bytes) }.toSeq
        val cuts = Boundaries
          .fromFileStats(spans, math.max(1L, math.ceil(bytes.toDouble / k).toLong))
          .map(PrefixCode.asciiFloor(_, c))
          .filter(x => x > lo && x <= hi).distinct.sorted
        val edges: Seq[Long] = (lo +: cuts.toSeq) :+ (hi + 1)
        edges.sliding(2).collect { case Seq(rlo, rhiEx) =>
          val rhi = rhiEx - 1
          val inRange = fs.filter { f =>
            val (a, b) = spanOf(f, c); a <= rhi && b >= rlo
          }.toSeq
          (rlo, rhi, inRange)
        }.filter(_._3.nonEmpty).toSeq
      }
    }
    units.zipWithIndex.map { case ((lo, hi, fs), i) => MergeUnit(i, lo, hi, fs) }
  }

  /** Row filter confining a unit's target scan to its [lo,hi] prefix
    * range — only meaningful where a neighboring unit shares a file
    * (interior split cuts, which are ASCII by construction). Plain string
    * comparisons so parquet row-group pruning applies.
    *
    * TRAILING NULs MUST BE STRIPPED from the decoded bound: `encode`
    * zero-pads keys shorter than c chars, so the key "0" sits numerically
    * AT the cut 0x30000000 — but against the raw decoded string
    * "0<NUL><NUL><NUL>" the string comparison says "0" < bound
    * (shorter-prefix-smaller) and the row falls off BOTH sides of the cut
    * (observed: doc_id "0" lost from m03's variable-length decimal ids).
    * With trailing NULs stripped, byte-lexicographic string comparison
    * agrees exactly with the zero-padded numeric comparison for every
    * ASCII key of ANY length: at the first differing in-range byte the
    * two orders coincide, and a key that is a strict prefix of the bound
    * compares smaller in both orders once the bound carries no padding. */
  private def unitRangeFilter(u: MergeUnit, c: Int): Option[Column] = {
    def bound(v: Long): Option[String] =
      PrefixCode.decodeAscii(v, c)
        .map(_.reverse.dropWhile(_ == '\u0000').reverse)
        
    val lower =
      if (u.lo <= 0) None
      else bound(u.lo).map(s => col("doc_id") >= lit(s))
    val upper =
      if (u.hi >= maxCode(c)) None
      else bound(u.hi + 1).map(s => col("doc_id") < lit(s))
    (lower, upper) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b) => a.orElse(b)
    }
  }

  /** Routing tables for RangeBin: bin boundaries at unit edges, keys map
    * bins to unit ids (gaps and the outside → -1 = insert unit). */
  def routing(units: Seq[MergeUnit]): (Array[Long], Array[Int]) = {
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val keys = scala.collection.mutable.ArrayBuffer.empty[Int]
    keys += -1 // below the first unit
    for (u <- units) {
      bounds += u.lo
      keys += u.id
      if (u.hi < Long.MaxValue) { bounds += u.hi + 1; keys += -1 }
    }
    (bounds.toArray, keys.toArray)
  }

  /** (source, doc_id-range) bin ids from the unit's own manifest stats:
    * boundaries on the driver, one id per bin (`RangeBin.bySource`); a
    * change row of a source absent from the unit's files gets the last
    * id. Returns (column, totalBins). */
  private def binColumn(files: Seq[DataFile], targetBytes: Long): (Column, Int) = {
    val bySource = files.groupBy(_.partition.getOrElse("source", ""))
    RangeBin.bySource(col("source"), PrefixCode.code(col("doc_id"), 7),
      bySource.keys.toSeq.sorted.map { s =>
        s -> Boundaries.fromFileStats(bySource(s).map { f =>
          val (lo, hi) = spanOf(f, 7); (lo, hi, f.bytes)
        }, targetBytes)
      })
  }

  /** Evolved (addColumn) fields present in a unit scan beyond the base
    * TokenRow shape. */
  private def extraColumns(target: DataFrame)
      : Seq[org.apache.spark.sql.types.StructField] = {
    val base = TokenRow.schema.fieldNames.toSet
    target.schema.fields.filterNot(f => base.contains(f.name)).toSeq
  }

  /**
   * FUSED sorted-merge: the unit's target files and its source slice are
   * unioned (tagged with an action priority), range-binned ONCE into the
   * final output layout (`repartitionById` on the bin id, one bin per
   * task), sorted within each bin by (doc_id, prio desc),
   * and merged by keeping each doc_id run's highest-priority row (dropping
   * the run when that row is a delete).
   *
   * This is the same algorithm SortMergeJoin runs — sort both sides by the
   * key, walk the runs — but fused with the output partitioning: the token
   * payload crosses the wire ONCE instead of three times (SMJ's two-sided
   * exchange+sort, the join, then a second full exchange into output
   * bins — measured 3x slower at 4M rows, all of it shuffle bytes). The
   * run logic is trivially correct because each doc_id has at most two
   * rows: one target copy (table uniqueness) and one source action
   * (dedupSource), and the higher-priority row decides.
   *
   * Formulation (VERDICT r3 next-step 3): lag/lead over a window
   * partitioned by the BIN — its required distribution is exactly the
   * exchange the write needs and its sort IS the output clustering, so
   * Catalyst adds no extra exchange, the rows stay UnsafeRow end-to-end
   * (no Dataset-encoder materialization of every token array into JVM
   * arrays), and the first/lonely flags are plain projections. Run
   * identity is (bin, doc_id), so the two copies of a contract-violating
   * key in different bins count as lonely. Lonely-run counts (the
   * provenance-contract probe) ride the same pass via `Dataset.observe` —
   * zero extra jobs. The spec asserts the output equals the SortMergeJoin
   * reference (`mergeFrames`).
   *
   * Returns (lonely upserts, lonely deletes): source actions that matched
   * no target copy in their bin — legitimate inserts inside the unit range
   * / idempotent deletes, or the provenance-mutation hazard; `Merge.run`
   * pays a verification pass iff the count is non-zero.
   */
  private[graft] def fusedMergeWrite(target: DataFrame, srcU: DataFrame,
      files: Seq[DataFile], targetBytes: Long, out: Path): (Long, Long) = {
    // evolved (addColumn) columns beyond the base TokenRow shape: target
    // rows must CARRY them through the rewrite; change rows supply them
    // when present in the change-set, else null (the upsert "didn't know"
    // the column — same semantics as a pre-evolution file)
    val extras = extraColumns(target)
    val t = target.withColumn("prio", lit(0))
    val s = srcU.select(Seq(col("doc_id"), col("tokens"), col("n_tok"),
      col("source"),
      when(col(opCol) === "delete", lit(2)).otherwise(lit(1)).as("prio")) ++
      extras.map { f =>
        (if (srcU.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    val all = t.unionByName(s)
    val (binCol, totalBins) = binColumn(files, targetBytes)
    val binned = all.withColumn("__bk", binCol)
      .repartitionById(totalBins, col("__bk"))
    // one bin per task, so partitionBy(__bk) is satisfied by the exchange
    // above and the window's (__bk, doc_id, prio desc) sort IS the output
    // clustering
    val w = Window.partitionBy(col("__bk"))
      .orderBy(col("doc_id").asc, col("prio").desc)
    val marked = binned
      .withColumn("__prev", lag(col("doc_id"), 1).over(w))
      .withColumn("__next", lead(col("doc_id"), 1).over(w))
      .withColumn("__first",
        col("__prev").isNull || col("__prev") =!= col("doc_id"))
      .withColumn("__lonely",
        col("__first") && col("prio") >= 1 &&
          (col("__next").isNull || col("__next") =!= col("doc_id")))
    val obs = Observation()
    val merged = marked.observe(obs,
        sum(when(col("__lonely") && col("prio") === 1, 1L).otherwise(0L)).as("lu"),
        sum(when(col("__lonely") && col("prio") === 2, 1L).otherwise(0L)).as("ld"))
      .filter(col("__first") && col("prio") =!= 2)
      .drop("__bk", "__prev", "__next", "__first", "__lonely", "prio")
    TokenTable.writeData(merged, out)
    def metric(k: String): Long = obs.get.get(k) match {
      case Some(l: Long) => l
      case _ => 0L
    }
    (metric("lu"), metric("ld"))
  }

  /**
   * Key-map anti merge for SMALL change-sets: merged = target rows whose
   * doc_id has NO source action ∪ source upserts. The anti side is a
   * driver-built doc_id→claimed-source map shipped as a REAL broadcast and
   * probed by a codegen'd expression (functions.KeyMapCode) that fuses
   * straight into the parquet scan stage — no join node, no
   * broadcast-build job (a BroadcastHashJoin spent ~2 s of fixed latency
   * per merge building its relation), no Dataset encoder round-trip.
   * The SAME probe classifies provenance conflicts (claimed source ≠
   * stored source, code 2) which are counted in the write pass via
   * `Dataset.observe` and returned — the caller aborts before commit on a
   * non-zero count, making the contract uniform with the run-scan path
   * (ADVICE r3 #1).
   *
   * WRITE SHAPE — copy-forward, ZERO exchange on the big side (the design
   * Delta/Iceberg copy-on-write MERGE ships, and the round-4 change that
   * moved this stage off the memory-bus ceiling): kept target rows stream
   * scan → codegen'd filter → write in scan order — no repartition, no
   * sort — so the pass costs one read plus one write of the touched
   * bytes, exactly like compaction (the engine's best-scaling stage).
   * Small files are packed into ≤ maxPartitionBytes scan splits, so one
   * task may carry several whole files, each in its own row order; it
   * writes one file per source it holds, so output files stay
   * single-source. Upserted rows do NOT rejoin their old position: they
   * shuffle (small side only — bounded by the change-set) into fresh
   * range-clustered files, and the next compact/cluster pass folds them
   * into the layout — the same contract appends and the insert unit
   * already follow. Re-sorting the whole touched set inside MERGE
   * (round 3's single-exchange design) priced every CDC batch at a full
   * re-cluster of the touched bytes: unaffordable at 100 TB and,
   * measured at bench scale, pinned to the DRAM-bandwidth scaling
   * ceiling that pure streaming avoids.
   */
  private[graft] def broadcastMergeWrite(target: DataFrame, srcU: DataFrame,
      files: Seq[DataFile], targetBytes: Long, out: Path,
      keyMap: Broadcast[java.util.HashMap[UTF8String, UTF8String]],
      upsertRows: Long): Long = {
    // evolved columns ride through on kept target rows; change rows
    // supply them when present, else null (see fusedMergeWrite)
    val extras = extraColumns(target)
    val upserts = srcU.filter(col(opCol) =!= "delete")
      .select(Seq("doc_id", "tokens", "n_tok", "source").map(col) ++
        extras.map { f =>
          (if (srcU.columns.contains(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)
        }: _*)
    val obs = Observation()
    val kept = target
      .withColumn("__mc", KeyMapCode.of(col("doc_id"), col("source"), keyMap))
      .observe(obs,
        sum(when(col("__mc") === 2, 1L).otherwise(0L)).as("conflicts"))
      .filter(col("__mc") === 0)
      .drop("__mc")
    // the small side gets its own bounded shuffle into ~targetBytes
    // range-clustered files (doc_id-sorted within each) so its manifest
    // stats prune; its row count comes from the planning summary
    val merged =
      if (upsertRows == 0) kept
      else {
        val avgRowBytes = {
          val tb = files.iterator.map(_.bytes).sum
          val tr = files.iterator.map(_.rows).sum
          if (tr == 0) 256L else math.max(16L, tb / tr)
        }
        val nOut = math.max(1,
          math.ceil(upsertRows.toDouble * avgRowBytes / targetBytes).toInt)
        kept.unionByName(upserts
          .repartition(nOut, pmod(xxhash64(col("doc_id")), lit(nOut)))
          .sortWithinPartitions(col("source"), col("doc_id")))
      }
    TokenTable.writeData(merged, out)
    obs.get.get("conflicts") match {
      case Some(l: Long) => l
      case _ => 0L
    }
  }

  /** Full-outer sorted-merge of one unit's target files with its source
    * slice, applying the upsert/delete action matrix — the SEMANTIC
    * REFERENCE formulation both execution paths are spec-checked against.
    * Note it matches on doc_id alone (no provenance check): production
    * paths additionally enforce the provenance contract and abort where
    * this reference would silently rewrite `source`. */
  private[graft] def mergeFrames(target: DataFrame, src: DataFrame): DataFrame = {
    val t = target.select(
      col("doc_id").as("t_doc_id"), col("tokens").as("t_tokens"),
      col("n_tok").as("t_n_tok"), col("source").as("t_source"))
    val s = src.select(
      col("doc_id").as("s_doc_id"), col("tokens").as("s_tokens"),
      col("n_tok").as("s_n_tok"), col("source").as("s_source"),
      col(opCol).as("s_op"))
    // Broadcast is suppressed so the planner keeps SortMergeJoin even when
    // one side is small (the north rule names the sorted-merge shape; at
    // 10^12-sequence scale neither side broadcasts anyway).
    t.hint("merge").join(s.hint("merge"),
        col("t_doc_id") === col("s_doc_id"), "full_outer")
      .select(
        // action matrix: matched+delete → drop; matched+upsert → source
        // row; target-only → keep; source-only+upsert → insert;
        // source-only+delete → no-op
        when(col("s_doc_id").isNull, col("t_doc_id"))
          .otherwise(col("s_doc_id")).as("doc_id"),
        when(col("s_doc_id").isNull, col("t_tokens"))
          .otherwise(col("s_tokens")).as("tokens"),
        when(col("s_doc_id").isNull, col("t_n_tok"))
          .otherwise(col("s_n_tok")).as("n_tok"),
        when(col("s_doc_id").isNull, col("t_source"))
          .otherwise(col("s_source")).as("source"),
        col("s_op"))
      .filter(col("s_op").isNull || col("s_op") =!= "delete")
      .filter(col("doc_id").isNotNull)
      .drop("s_op")
  }

  /** Change-sets with at most this many deduped rows take the
    * broadcast key-map path (the common "CDC batch into a huge table"
    * shape): ~60 B of key+source per row → bounded driver/broadcast
    * footprint. Larger sources use the general fused run-scan. */
  val BroadcastSourceRows: Long = 1200000L

  /** Execute the merge against the current snapshot. The change-set is
    * always deduped first (`dedupSource`: at most one action per doc_id,
    * delete wins, then least token fingerprint), so duplicate keys in
    * `source` resolve deterministically and the table stays key-unique.
    * SQL DELETE/UPDATE do not come through here: they are predicate
    * copy-on-write (`sources.GraftRowLevel`).
    * @param source change-set DataFrame (doc_id, tokens, n_tok, source, _op) */
  def run(table: TokenTable, spark: SparkSession, source: DataFrame,
      nowMs: Long = 0L,
      targetFileBytes: Long = 128L * 1024 * 1024,
      broadcastThreshold: Long = BroadcastSourceRows,
      unitTargetBytes: Long = UnitTargetBytes): Snapshot = {
    val snap = table.log.current().getOrElse(sys.error("empty table"))
    val files = table.log.dataFiles(snap)
    val lin = new LineageLog(table.root)

    val src = dedupSource(source).cache()
    try {
      // Planning: exact count + one narrow collect (small sources;
      // bounded aggregation otherwise).
      // The fingerprint makes the pass id resume-safe (a crashed merge
      // re-run with a different source gets a fresh pass id and never
      // reuses stale staged output — ADVICE r1 #1); the cells drive
      // touched-file stabbing and insert sizing; the key map feeds the
      // broadcast path's codegen probe.
      val plan = planSummary(src, broadcastThreshold)
      val cellChars = plan.cellChars
      // path choice is a pure function of the change-set content and the
      // threshold, and it is FOLDED INTO the pass id (ADVICE r3 #3): a
      // crashed merge resumed with a different threshold that flips the
      // path gets a fresh pass id and cannot reuse the other path's
      // staged output unverified
      val useBroadcast = plan.keyMap.isDefined &&
        plan.srcRows <= broadcastThreshold
      val passId =
        s"merge-v${snap.version}-${plan.srcFp}-${if (useBroadcast) "b" else "s"}"
      val cells = plan.cells.map(_.map(_.cell).toArray)

      val touched = cells match {
        case Some(cs) => files.filter { f =>
          val (lo, hi) = spanOf(f, cellChars); anyCellIn(cs, lo, hi)
        }
        case None => files
      }
      // unit COUNT scales with touched bytes (resume quantum stays
      // ~unitTargetBytes at any scale); only CONCURRENCY is capped below
      val units = planUnits(touched, cellChars, unitTargetBytes)
      val (bounds, keysArr) = routing(units)
      val unitOf = RangeBin.bin(
        PrefixCode.code(col("doc_id"), cellChars), bounds, keysArr)

      val done = lin.completed(passId)
      val resumedUnits = units.exists(u => done.contains(u.key))
      val keyMapBc =
        if (!useBroadcast || units.isEmpty) None
        else Some(spark.sparkContext.broadcast(plan.keyMap.get))
      val lonelyUp = new java.util.concurrent.atomic.AtomicLong
      val lonelyDel = new java.util.concurrent.atomic.AtomicLong

      // insert unit planning (driver-only): keys outside every touched
      // range; deletes are no-ops there. Row count comes from the cell
      // summary (no extra count job).
      // inserts carry evolved columns the change-set supplies; columns it
      // doesn't supply are simply absent from the new files (scans fill
      // null — same as any pre-evolution file)
      val insCols = Seq("doc_id", "tokens", "n_tok", "source") ++
        table.schemaOf(snap).fieldNames
          .filterNot(TokenRow.schema.fieldNames.contains)
          .filter(src.columns.contains)
      val insDF = src.filter(unitOf === -1 && col(opCol) =!= "delete")
        .select(insCols.map(col): _*)
      def outsideUnits(cell: Long): Boolean =
        !units.exists(u => u.lo <= cell && cell <= u.hi)
      val insRows = plan.cells match {
        case Some(st) => st.iterator.filter(s => outsideUnits(s.cell))
          .map(_.nUpserts).sum
        case None => insDF.count()
      }
      // every unit thunk returns (staged dir, its footer-statted manifest
      // entries): entry collection overlaps other units' Spark jobs
      // instead of running serially inside the commit
      def entriesOf(p: Path): (Path, Seq[DataFile]) = (p, table.collectEntries(p))
      def runInsert(): Option[(Path, Seq[DataFile])] =
        if (insRows == 0) None
        else done.get("inserts") match {
          case Some(rec) => Some(entriesOf(table.log.absolute(rec.filesOut.head)))
          case None =>
            // new files are hash-clustered (no stats to range them by);
            // the next compact/cluster pass folds them into the layout —
            // the same contract Delta/Iceberg appends follow
            val avgRowBytes = {
              val tb = files.map(_.bytes).sum; val tr = files.map(_.rows).sum
              if (tr == 0) 256L else math.max(16L, tb / tr)
            }
            val nIns = math.max(1,
              math.ceil(insRows.toDouble * avgRowBytes / targetFileBytes).toInt)
            val outDir = table.log.newDataSubdir()
            lin.heartbeat(passId)
            TokenTable.writeData(
              insDF.repartition(nIns, pmod(xxhash64(col("doc_id")), lit(nIns)))
                .sortWithinPartitions(col("source"), col("doc_id")), outDir)
            val e = entriesOf(outDir)
            lin.append(LineageRecord(passId, "merge", "inserts", "done",
              0, Seq(table.log.relativize(outDir)), insRows, 0L, 1))
            Some(e)
        }
      def runUnit(u: MergeUnit): (Path, Seq[DataFile]) =
        done.get(u.key) match {
          case Some(rec) =>
            entriesOf(table.log.absolute(rec.filesOut.head))
          case None =>
            // snapshot schema, not the fixed base: rewrites must CARRY
            // evolved (addColumn) columns; pre-evolution files read null
            val scan = spark.read.schema(table.schemaOf(snap))
              .parquet(u.files.map(f => table.log.absolute(f.path).toString): _*)
            // confine to the unit's range: a file crossing a split cut
            // is scanned by both neighbors, each keeping its own rows
            val target = unitRangeFilter(u, cellChars)
              .map(scan.filter).getOrElse(scan)
            val outDir = table.log.newDataSubdir()
            lin.heartbeat(passId)
            if (useBroadcast) {
              // unit upsert count from the planning summary — no count
              // job (the collect plan that enables this path has cells)
              val unitUpserts = plan.cells.get.iterator
                .filter(s => s.cell >= u.lo && s.cell <= u.hi)
                .map(_.nUpserts).sum
              val conflicts = broadcastMergeWrite(target,
                src.filter(unitOf === u.id), u.files, targetFileBytes,
                outDir, keyMapBc.get, unitUpserts)
              // abort BEFORE the unit's lineage record: the violating
              // staged output must never be reusable by a resume (the
              // corrected change-set has a different fingerprint and
              // pass id anyway; the dir is swept as an orphan)
              if (conflicts > 0)
                throw new MergeContractViolation(
                  s"merge aborted before commit: $conflicts change row(s) " +
                  "in unit " + u.key + " carry a different `source` than " +
                  "the stored row (provenance is immutable; re-submit " +
                  "with the keys' stored sources, or delete-then-upsert " +
                  "to move a document between sources)")
            } else {
              val (lu, ld) = fusedMergeWrite(target,
                src.filter(unitOf === u.id), u.files, targetFileBytes, outDir)
              lonelyUp.addAndGet(lu); lonelyDel.addAndGet(ld)
            }
            val e = entriesOf(outDir)
            lin.append(LineageRecord(passId, "merge", u.key, "done",
              u.files.size, Seq(table.log.relativize(outDir)),
              u.rows, u.bytes, 1))
            e
        }
      // merge units AND the insert unit share ONE bounded pool: the insert
      // write overlaps the unit jobs instead of trailing them serially
      // (every job tail is ~1 s of dispatch floor at local scale)
      val thunks: Seq[() => Either[(Path, Seq[DataFile]), Option[(Path, Seq[DataFile])]]] =
        units.map(u => () => Left(runUnit(u))) :+ (() => Right(runInsert()))
      val outs = Concurrency.mapUnits(thunks, maxConcurrent = UnitPool)(_())
      val unitOuts = outs.collect { case Left(p) => p }
      val insOut = outs.collectFirst { case Right(o) => o }.flatten

      // Contract enforcement, run-scan path (VERDICT r2 "What's wrong"
      // #2; the broadcast path observed conflicts inside each unit's
      // write pass and already aborted): a source-mutating action routes
      // its two copies to different (source, range) bins — the source
      // copy shows up as a LONELY run. Only when one was seen (or
      // lineage-resumed units skipped the counting scan) do we pay a
      // verification pass over the staged output — column-pruned to
      // doc_id, never the token arrays — and abort BEFORE commit on
      // violation. The normal path (contract held: zero lonely runs)
      // pays nothing. Resumed broadcast units were observation-verified
      // before their `done` record, and a path flip cannot reuse them
      // (the pass id carries the path), so no re-verification there.
      if (!useBroadcast && unitOuts.nonEmpty &&
          (resumedUnits || lonelyUp.get > 0)) {
        val dup = spark.read.schema(TokenRow.schema)
          .parquet(unitOuts.map(_._1.toString): _*)
          .groupBy("doc_id").count().filter(col("count") > 1)
          .limit(1).collect()
        if (dup.nonEmpty)
          throw new MergeContractViolation(
            s"merge aborted before commit: doc_id '${dup(0).getString(0)}' " +
            "appears twice in the merged output — an upsert changed an " +
            "existing key's `source` (provenance is immutable; re-submit " +
            "the change with the key's original source)")
      }
      if (!useBroadcast && unitOuts.nonEmpty &&
          (resumedUnits || lonelyDel.get > 0)) {
        val lost = src.filter(col(opCol) === "delete").select("doc_id")
          .join(spark.read.schema(TokenRow.schema)
            .parquet(unitOuts.map(_._1.toString): _*).select("doc_id"), "doc_id")
          .limit(1).collect()
        if (lost.nonEmpty)
          throw new MergeContractViolation(
            s"merge aborted before commit: delete of doc_id " +
            s"'${lost(0).getString(0)}' did not apply — the delete row's " +
            "`source` differs from the stored row's (provenance is " +
            "immutable; re-submit the delete with the key's stored source)")
      }

      if (units.isEmpty && insOut.isEmpty) return snap // pure no-op
      table.commitRewriteEntries(touched.map(_.path).toSet,
        (unitOuts ++ insOut.toSeq).flatMap(_._2), nowMs, "merge",
        Map("pass-id" -> passId,
          "merge-units" -> units.size.toString,
          "touched-files" -> touched.size.toString,
          "touched-ratio" ->
            (if (files.isEmpty) "0"
             else f"${touched.size.toDouble / files.size}%.4f")))
    } finally src.unpersist()
  }
}

/**
 * Salted two-phase aggregation for Zipf-hot grouping keys (the `web`
 * source holds ~45% of all rows — FIXTURES.md §1). Phase 1 aggregates by
 * (key, salt) spreading the hot key over `salts` reducers; phase 2 folds
 * the partials. Works for any algebraic aggregate set.
 */
object Salt {
  def aggBySaltedKey(df: DataFrame, key: String, salts: Int,
      aggs: Map[String, String]): DataFrame = {
    // deterministic salt from the row identity, not rand(): SURVEY.md §7.4
    val salted = df.withColumn("__salt",
      pmod(xxhash64(col("doc_id")), lit(salts)))
    val phase1 = salted.groupBy(col(key), col("__salt"))
      .agg(
        aggs.head match { case (c, f) => partialAgg(f, c).as(s"p_${f}_$c") },
        aggs.tail.map { case (c, f) => partialAgg(f, c).as(s"p_${f}_$c") }.toSeq: _*)
    val finals = aggs.map { case (c, f) =>
      finalAgg(f, s"p_${f}_$c").as(s"${f}_$c") }.toSeq
    phase1.groupBy(col(key)).agg(finals.head, finals.tail: _*)
  }

  private def partialAgg(f: String, c: String) = f match {
    case "count" => count(lit(1))
    case "sum" => sum(col(c))
    case "min" => min(col(c))
    case "max" => max(col(c))
    case other => sys.error(s"unsupported salted agg: $other")
  }
  private def finalAgg(f: String, pc: String) = f match {
    case "count" => sum(col(pc))
    case "sum" => sum(col(pc))
    case "min" => min(col(pc))
    case "max" => max(col(pc))
    case other => sys.error(s"unsupported salted agg: $other")
  }
}
