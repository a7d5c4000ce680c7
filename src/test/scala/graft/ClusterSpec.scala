package graft

import org.apache.spark.sql.functions._

import graft.cluster.{Hilbert, ZOrder}
import graft.gen.Synth
import graft.maint.{Bin, Packer, Rewrite, RewriteConfig}
import graft.meta.DataFile

/** Property suite per SURVEY.md §5.2 item 4 — seeded exhaustive/random
  * sampling (deterministic; the offline cache has no scalatest-scalacheck
  * bridge, so properties are driven by a fixed-seed generator directly). */
class ClusterSpec extends SparkTestBase {

  val rnd = new java.util.Random(42)
  def dim16(): Long = (rnd.nextInt() & 0xffff).toLong

  test("zorder column bit-math matches the scalar reference implementation") {
    import spark.implicits._
    val triples = Seq.fill(200)((dim16(), dim16(), dim16()))
    val got = triples.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        ZOrder.interleave3(col("a"), col("b"), col("c")).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) ===
        ZOrder.interleave3Ref(r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  test("zorder key is monotone in each dimension (others fixed)") {
    (1 to 500).foreach { _ =>
      val a = dim16(); val b = dim16()
      val lo = (rnd.nextInt() & 0xfffe).toLong
      val hi = math.min(lo + 1 + rnd.nextInt(16), 0xffffL)
      assert(ZOrder.interleave3Ref(lo, a, b) < ZOrder.interleave3Ref(hi, a, b))
      assert(ZOrder.interleave3Ref(a, lo, b) < ZOrder.interleave3Ref(a, hi, b))
      assert(ZOrder.interleave3Ref(a, b, lo) < ZOrder.interleave3Ref(a, b, hi))
    }
  }

  test("hilbert index is a bijection on the 3x16-bit grid (round-trip)") {
    (1 to 2000).foreach { _ =>
      val (a, b, c) = (dim16(), dim16(), dim16())
      val h = Hilbert.index(Array(a, b, c), Hilbert.bits3)
      val back = Hilbert.axes(h, 3, Hilbert.bits3)
      assert(back.toSeq === Seq(a, b, c), s"h=$h for ($a,$b,$c)")
    }
  }

  test("hilbert is locality-preserving: consecutive indices are adjacent cells") {
    // unit-step property of the Hilbert curve, exhaustively on a 3D 4-bit grid
    val bits = 4
    var prev = Hilbert.axes(0L, 3, bits)
    var h = 1L
    while (h < (1L << (3 * bits))) {
      val cur = Hilbert.axes(h, 3, bits)
      val dist = (0 until 3).map(i => math.abs(cur(i) - prev(i))).sum
      assert(dist === 1L, s"index $h jumped $dist")
      prev = cur
      h += 1
    }
  }

  def mkFile(i: Int, bytes: Long): DataFile =
    DataFile(s"f$i", Map("source" -> "web"), 1L, bytes, Map.empty)

  test("FFD: no bin over target; bin count <= 2*OPT; every file packed once") {
    val target = 1000L
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(120)
      val sizes = Seq.fill(n)(1L + rnd.nextInt(1000))
      val files = sizes.zipWithIndex.map { case (s, i) => mkFile(i, s) }
      val bins = Packer.ffd("web", files, target)
      assert(bins.forall(_.bytes <= target))
      val opt = math.max(1L, (sizes.sum + target - 1) / target)
      assert(bins.size <= 2 * opt, s"${bins.size} bins vs OPT>=$opt")
      assert(bins.flatMap(_.files).map(_.path).sorted ===
        files.map(_.path).sorted)
    }
  }

  test("FFD is deterministic under input permutation") {
    val files = (1 to 50).map(i => mkFile(i, 1L + (i * 37 % 900)))
    val a = Packer.ffd("web", files, 1000L)
    val b = Packer.ffd("web", scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(files), 1000L)
    assert(a.map(_.files.map(_.path)) === b.map(_.files.map(_.path)))
  }

  /** A 48-file table over Synth's sources and the FFD bins
    * `Rewrite.compact` plans from its manifest, at a target that splits the
    * hot "web" source into several bins. Returns (table, files, config,
    * bins). */
  private def compactionFixture(name: String)
      : (TokenTable, Seq[DataFile], RewriteConfig, Seq[Bin]) = {
    val t = TokenTable.create(tmpDir(name), spark)
    t.append(Synth.table(spark, 8000, seed = 5L, minTok = 16, maxTok = 128),
      targetFileCount = 48, nowMs = 1L)
    val files = t.log.dataFiles(t.log.current().get)
    val webBytes = files.filter(_.partition.get("source").contains("web"))
      .map(_.bytes).sum
    val cfg = RewriteConfig(targetFileBytes = webBytes / 6, sortBy = "docid")
    val bins = files.groupBy(_.partition.getOrElse("source", "")).toSeq
      .sortBy(_._1).flatMap { case (p, fs) =>
        val victims = fs.filter(_.bytes < cfg.minBytes)
        if (victims.size < 2) Seq.empty
        else Packer.ffd(p, victims, cfg.targetFileBytes).filter(_.files.size >= 2)
      }
    (t, files, cfg, bins)
  }

  /** Files the current snapshot holds beyond `before`. */
  private def addedFiles(t: TokenTable, before: Seq[DataFile]): Seq[DataFile] = {
    val old = before.map(_.path).toSet
    t.log.dataFiles(t.log.current().get).filterNot(f => old(f.path))
  }

  /** doc_ids of each file (by manifest path), in file order: every file
    * is far below one scan split, so one task reads it front to back. */
  private def docIdsByFile(t: TokenTable, files: Seq[DataFile])
      : Map[String, Seq[String]] = {
    val byAbs = files.map(f => t.log.absolute(f.path).toString -> f.path).toMap
    spark.read.schema(TokenRow.schema).parquet(byAbs.keys.toSeq: _*)
      .select(input_file_name(), col("doc_id")).collect().toSeq
      .groupBy(r => byAbs(new java.net.URI(r.getString(0)).getPath))
      .map { case (p, rs) => p -> rs.map(_.getString(1)) }
  }

  test("exact-placement keys land each bin on its own shuffle partition") {
    // compaction places FFD bin i on write task i, so each bin becomes
    // exactly one file (bins are partition-pure) holding exactly its rows
    val (t, before, cfg, bins) = compactionFixture("graft-placement")
    assert(bins.size >= 3 && bins.groupBy(_.partition).exists(_._2.size >= 2),
      s"bins per source: ${bins.groupBy(_.partition).map(b => b._1 -> b._2.size)}")
    Rewrite.compact(t, spark, cfg, nowMs = 2L)
    val added = addedFiles(t, before)
    assert(added.size === bins.size)
    val inDocs = docIdsByFile(t, before)
    val binDocs = bins.map(_.files.flatMap(f => inDocs(f.path)).toSet)
    val outDocs = docIdsByFile(t, added).values.map(_.toSet)
    assert(outDocs.toSet === binDocs.toSet)
  }

  test("compaction under the production writer settings writes each file in doc_id order") {
    // with concurrent output writers the planned write adds no sort on
    // p_source, so the bin's doc_id sort is the file order
    val (t, before, cfg, bins) = compactionFixture("graft-compact-sort")
    withProductionWrites(Rewrite.compact(t, spark, cfg, nowMs = 2L))
    val added = addedFiles(t, before)
    assert(added.size === bins.size)
    docIdsByFile(t, added).foreach { case (p, ids) =>
      assert(ids === ids.sorted, s"$p is not in doc_id order")
    }
  }

  test("cluster pruning surface is invariant under the within-file sort mode") {
    // The parquet row-group size must not be able to change what any scan
    // skips: per-file manifest stats come from the RangeBin assignment,
    // not from the row-group layout inside a file. Cluster the SAME data
    // with 128 KB row groups (the 256 KB target spans two) and with the
    // default 128 MB ones, and require identical per-file (partition,
    // rows, stats) manifests and equal content fingerprints. Rewrite.cluster
    // has no within-file sort, so row order is the exchange's either way.
    def build(rowGroupBytes: Option[Long])
        : (Seq[(String, Long, Map[String, String])], java.math.BigDecimal) = {
      val root = tmpDir(s"graft-sortmode-${rowGroupBytes.getOrElse("default")}")
      val t = TokenTable.create(root, spark)
      t.append(Synth.table(spark, 8000, seed = 7L, minTok = 16, maxTok = 128),
        targetFileCount = 24, nowMs = 1L)
      rowGroupBytes.foreach(b => spark.conf.set("parquet.block.size", b.toString))
      try Rewrite.cluster(t, spark,
        RewriteConfig(targetFileBytes = 256L * 1024, sortBy = "zkey"), nowMs = 2L)
      finally spark.conf.unset("parquet.block.size")
      val snap = t.log.current().get
      val files = t.log.dataFiles(snap).map { f =>
        (f.partition.getOrElse("source", ""), f.rows,
          f.stats.flatMap { case (c, s) =>
            Seq(s"$c.min" -> String.valueOf(s.min), s"$c.max" -> String.valueOf(s.max))
          })
      }.sortBy(f => (f._1, f._3.toSeq.sorted.mkString("|"), f._2))
      val fp = t.scan()._1
        .select(xxhash64(col("doc_id"), col("tokens")).cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")))
        .collect()(0).getDecimal(0)
      (files, fp)
    }
    val (fa, fpa) = build(Some(128L * 1024))
    val (fn, fpn) = build(None)
    assert(fpa === fpn)
    assert(fa === fn)
  }
}
