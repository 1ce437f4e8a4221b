package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Similarity}
import graft.sources.{Generations, Sinks}

class GenerationsSpec extends SparkSpec {

  test("commit stamps the generation, writes a typed meta row, and open validates it") {
    import spark.implicits._
    Sinks.writeTable(Seq(1L, 2L).toDF("id"), "gs_rt_x_a")
    val committed = Generations.commit(spark, "gs_rt", Seq("gs_rt_x_a"))(e =>
      Seq("gen" -> "a", "k" -> 3, "n" -> 7L, "bias" -> 0.125, "epoch" -> e))
    val row = spark.table("gs_rt_meta").collect()(0)
    assert(row.getString(0) == "a" && row.getInt(1) == 3 &&
      row.getLong(2) == 7L && row.getDouble(3) == 0.125)
    val live = Generations.open(spark, "gs_rt", m => Seq(s"gs_rt_x_${m("gen")}"),
      ledger = false)
    assert(live.meta == committed && live.ledger.isEmpty)
    Generations.clearEpochTokens(spark, "gs_rt_x_a")
    assert(intercept[IllegalArgumentException] {
      Generations.open(spark, "gs_rt", m => Seq(s"gs_rt_x_${m("gen")}"))
    }.getMessage.contains("epoch token"))
  }

  test("rebuild writes the other slot, flips the pointer and drops the superseded slot") {
    import spark.implicits._
    def write(rows: Seq[Long], cur: Option[String]) =
      Generations.rebuild(spark, "gs_rb", cur, g => Seq(s"gs_rb_x_$g"))(g =>
        Sinks.writeTable(rows.toDF("id"), s"gs_rb_x_$g"))((g, e) =>
        Seq("gen" -> g, "epoch" -> e))
    assert(write(Seq(1L), Generations.liveGen(spark, "gs_rb"))("gen") == "a")
    assert(Generations.liveGen(spark, "gs_rb").contains("a"))
    assert(write(Seq(2L, 3L), Some("a"))("gen") == "b")
    assert(!spark.catalog.tableExists("gs_rb_x_a"))
    assert(spark.table("gs_rb_x_b").count() == 2L)
  }

  test("a quiet window never repairs and re-measures nothing; a fired one re-measures the commit") {
    val live = Generations.Live(Map("gen" -> "a", "epoch" -> "e0"), None)
    var measured = 0
    val quiet = Generations.window(live)(l => { measured += 1; l("gen") })(
      _ => false)((_, _) => sys.error("a quiet window must not repair"))
    assert(measured == 1 && !quiet.fired && !quiet.changed &&
      quiet.post == quiet.pre)
    val fired = Generations.window(live)(_("gen"))(_ == "a")((_, _) =>
      Map("gen" -> "b", "epoch" -> "e1"))
    assert(fired.fired && fired.changed && fired.pre == "a" &&
      fired.post == "b")
  }

  test("a ledger append drops the generation it supersedes") {
    import spark.implicits._
    Generations.clearLedger(spark, "gs_led")
    Generations.appendLedger(spark, "gs_led", Seq(1L, 2L).toDF("id"))
    Generations.appendLedger(spark, "gs_led", Seq(2L, 3L).toDF("id"))
    assert(Seq("gs_led_a", "gs_led_b").count(spark.catalog.tableExists) == 1)
    val (_, rows) = Generations.readLedger(spark, "gs_led").get
    assert(rows.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a write over a purged LSH index drops the moved generation") {
    import spark.implicits._
    val p = "gs_lsh"
    Seq(s"${p}_meta", s"${p}_hashed", s"${p}_hashed_b")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Generations.clearLedger(spark, s"${p}_tombstones")
    def vecs(ids: Seq[Long]) = ids.map(i => (i, Array(1.0, i.toDouble)))
      .toDF("vec_id", "embedding")
    def write(ids: Seq[Long]) = Similarity.writeLshIndexBucketed(
      Similarity.buildLsh(vecs(ids), "vec_id", "embedding", planes = 4),
      p, numBuckets = 2)
    write(Seq(1L, 2L, 3L))
    assert(spark.catalog.tableExists(s"${p}_hashed"))
    Similarity.tombstoneLsh(spark, p, Seq(1L).toDF("vec_id"), "vec_id")
    Similarity.purgeLshIndex(spark, p, numBuckets = 2).collect()
    assert(spark.table(s"${p}_meta").collect()(0)
      .getAs[String]("hashed_table") == s"${p}_hashed_b")
    write(Seq(7L, 8L))
    assert(!spark.catalog.tableExists(s"${p}_hashed_b"))
    assert(Similarity.readLshIndex(spark, p).hashedCorpus
      .select("neighbor_id").as[Long].collect().sorted.toSeq == Seq(7L, 8L))
  }

  test("a write over a compacted members table drops the moved generation") {
    import spark.implicits._
    val t = "gs_hm"
    Seq(s"${t}_meta", s"${t}_members", s"${t}_members_b")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    Generations.clearLedger(spark, s"${t}_tombstones")
    def members(ids: Seq[Long]) = Dedup.hammingBandMembers(
      ids.map(i => (i, 7L)).toDF("media_id", "sig"), "media_id", "sig",
      maxHamming = 2)
    Dedup.writeHammingMembers(spark, members(Seq(1L, 2L)), t)
    Dedup.compactHammingMembers(spark, t, maxHamming = 2)
    assert(spark.table(s"${t}_meta").collect()(0)
      .getAs[String]("members_table") == s"${t}_members_b")
    val last = members(Seq(5L))
    Dedup.writeHammingMembers(spark, last, t)
    assert(!spark.catalog.tableExists(s"${t}_members_b"))
    assert(Dedup.readHammingMembers(spark, t).count() == last.count())
  }

  test("every table of an IVF, IVF×SQ and IVF×PQ generation alternates: a retrain and a rewrite never touch the served tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (1L to 60L).map(i => (i, Array.fill(6)(rnd.nextDouble())))
      .toDF("vec_id", "embedding")
    // the data tables of `prefix`'s generation: everything but the meta
    // and the takedown ledger
    def tables(prefix: String): Set[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith(s"${prefix}_") && !n.endsWith("_meta") &&
          !n.contains("_tombstones")).toSet
    def swaps(prefix: String, write: () => Unit, retrain: () => Unit,
              read: () => Long): Unit = {
      write()
      val built = tables(prefix)
      retrain()
      val retrained = tables(prefix)
      assert(retrained.nonEmpty && (retrained & built).isEmpty,
        s"$prefix retrain rewrote served tables in place: $built -> $retrained")
      assert(read() > 0L)
      write() // a fresh write over the served prefix
      val rewritten = tables(prefix)
      assert(rewritten.nonEmpty && (rewritten & retrained).isEmpty,
        s"$prefix rewrite touched served tables: $retrained -> $rewritten")
      assert(read() > 0L)
    }
    val sample = corpus.filter($"vec_id" % 2 === 1)
    swaps("gs_ivf",
      () => Similarity.writeIvfIndexBucketed(Similarity.buildIvf(corpus,
        "vec_id", "embedding", nCells = 2, lloydIters = 1), "gs_ivf",
        numBuckets = 2),
      () => Similarity.retrainIvfIndexBucketed(spark, "gs_ivf",
        _.filter($"__rid" % 2 === 1), numBuckets = 2),
      () => Similarity.readIvfIndex(spark, "gs_ivf").centroids.count())
    swaps("gs_ivfsq",
      () => Similarity.writeIvfSqIndexBucketed(Similarity.buildIvfSq(corpus,
        "vec_id", "embedding", nCells = 2, lloydIters = 1), "gs_ivfsq",
        numBuckets = 2),
      () => Similarity.retrainIvfSqIndexBucketed(spark, "gs_ivfsq", corpus,
        "vec_id", "embedding", sample, numBuckets = 2),
      () => Similarity.readIvfSqIndex(spark, "gs_ivfsq").stats.count())
    swaps("gs_ivfpq",
      () => Similarity.writeIvfPqIndexBucketed(Similarity.buildIvfPq(corpus,
        "vec_id", "embedding", nCells = 2, nSub = 2, nCentroids = 2,
        lloydIters = 1), "gs_ivfpq", numBuckets = 2),
      () => Similarity.retrainIvfPqIndexBucketed(spark, "gs_ivfpq", corpus,
        "vec_id", "embedding", sample, numBuckets = 2),
      () => Similarity.readIvfPqCellStats(spark, "gs_ivfpq").count())
  }

  test("the commit protocol lives only in the generation store") {
    val protocol = """stampEpoch|requireEpoch|clearEpochTokens|_graft_epoch_""".r
    val s = Files.walk(Paths.get("src/main/scala"))
    val files: Seq[Path] =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.getFileName.toString == "Generations.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "Generations.scala")
      .filter(f => protocol.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      "epoch stamps, checks and token names belong in " +
        "graft.sources.Generations, not in: " + offenders.mkString(", "))
  }
}
