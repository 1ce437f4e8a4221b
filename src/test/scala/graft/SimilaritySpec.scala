package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  }

  test("brute-force top-k: self excluded, ranks deterministic, cosine in [-1,1]") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 4)
    val rows = out.collect()
    assert(rows.length == 20) // 5 queries × 4
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // ranks are 1..4 per query, cosine non-increasing
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == Seq(1, 2, 3, 4))
      assert(sorted.sliding(2).forall(p =>
        p(0).getDouble(2) >= p(1).getDouble(2) - 1e-12))
    }
  }

  test("LSH top-k recall on planted near-duplicates (multi-probe)") {
    // plant perturbed copies (cosine ≈ 0.9999 to their source): the
    // true top-1 of each query IS its copy; LSH must find it through
    // the bucket structure. Random-pair cosine here is ~0.3, so this
    // is the regime hyperplane LSH is designed for.
    val copies = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val queries = emb.filter($"vec_id" < 20).select("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: top-1 of query q is its planted copy q+100000
    assert(bf.forall { case (q, n) => n == q + 100000L }, s"bf $bf")
    val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 1,
        planes = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = bf.count { case (q, n) => lsh.get(q).contains(n) }.toDouble / bf.size
    assert(recall >= 0.8, s"LSH top-1 recall $recall")
  }

  test("ANN build/search split: one built index serves repeated queries") {
    val corpus = emb.select("vec_id", "embedding")
    val ivf = Similarity.buildIvf(corpus, "vec_id", "embedding", nCells = 8)
    ivf.centroids.persist(); ivf.corpusCells.persist()
    val lsh = Similarity.buildLsh(corpus, "vec_id", "embedding", planes = 8)
    lsh.hashedCorpus.persist()
    try {
      for (qs <- Seq(emb.filter($"vec_id" < 5), emb.filter($"vec_id".between(5, 9)))) {
        def key(df: org.apache.spark.sql.DataFrame) =
          df.select("query_id", "neighbor_id", "rank").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(key(Similarity.searchIvf(ivf, qs, "vec_id", "embedding", 3)) ==
          key(Similarity.ivfTopK(corpus, qs, "vec_id", "embedding", 3, nCells = 8)))
        assert(key(Similarity.searchLsh(lsh, qs, "vec_id", "embedding", 3)) ==
          key(Similarity.lshTopK(corpus, qs, "vec_id", "embedding", 3, planes = 8)))
      }
    } finally {
      ivf.centroids.unpersist(); ivf.corpusCells.unpersist()
      lsh.hashedCorpus.unpersist()
    }
  }

  test("SQ int8 codes: reconstruction within half a quantization step") {
    val idx = Similarity.buildSq(emb, "vec_id", "embedding")
    // worst-case |x - x̂| ≤ scale/2 per dimension; scales come from the
    // one-row stats table
    val scales = idx.stats.collect()(0).getSeq[Double](1)
    val maxErr = idx.codes
      .join(emb.select($"vec_id".as("neighbor_id"),
        transform($"embedding", _.cast("double")).as("v")), Seq("neighbor_id"))
      .crossJoin(broadcast(idx.stats))
      .select(expr("aggregate(zip_with(v, transform(codes, (c, i) -> " +
        "mins[i] + (CAST(c AS DOUBLE) + 128.0D) * scales[i]), " +
        "(x, y) -> abs(x - y)), 0.0D, (a, e) -> greatest(a, e))").as("err"))
      .agg(max($"err")).collect()(0).getDouble(0)
    assert(maxErr <= scales.max / 2 + 1e-12, s"maxErr $maxErr")
  }

  test("SQ top-k recall: planted near-duplicates rerank to the true top-1") {
    val copies = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val queries = emb.filter($"vec_id" < 20).select("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sq = Similarity.sqTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sq == bf, s"sq top-1 diverged: ${sq.toSet -- bf.toSet}")
  }

  test("IVF×SQ composed index: code-typed cells, float-free until rerank, full recall") {
    val idx = Similarity.buildIvfSq(emb, "vec_id", "embedding", nCells = 8)
    // the index table the approximate pass scans holds ONLY the int8
    // code word, its reconstruction norm, and the cell — no floats
    assert(idx.cellCodes.columns.sorted.toSeq ==
      Seq("cell", "cnorm", "codes", "neighbor_id"))
    val codesType = idx.cellCodes.schema("codes").dataType
    assert(codesType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true),
      s"codes must stay int8, got $codesType")
    // planted-copy recall: same discipline as the SQ and IVF tests —
    // the composed path must route each query to its source's cell AND
    // keep the true neighbor through quantization + rerank
    val copies = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val queries = emb.filter($"vec_id" < 20).select("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Similarity.ivfSqTopK(corpus, queries, "vec_id", "embedding",
        k = 1, nCells = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(composed == bf, s"ivf×sq top-1 diverged: ${composed.toSet -- bf.toSet}")
    // build/search split: the built index serves a second query batch
    val qs2 = emb.filter($"vec_id".between(20, 24)).select("vec_id", "embedding")
    val idx2 = Similarity.buildIvfSq(corpus, "vec_id", "embedding", nCells = 8)
    val viaIndex = Similarity.searchIvfSq(idx2, corpus, qs2, "vec_id",
        "embedding", 3).select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaOneShot = Similarity.ivfSqTopK(corpus, qs2, "vec_id", "embedding",
        3, nCells = 8).select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == viaOneShot)
  }

  test("native hyperplane signature matches the HOF formula bit-for-bit") {
    // the original Column formulation, kept here as the reference
    // semantics the fused-loop expression must reproduce exactly
    def planeSign(p: Int, d: org.apache.spark.sql.Column) =
      when(xxhash64(lit(p), d).bitwiseAND(lit(1L)) === 1L, lit(1.0))
        .otherwise(lit(-1.0))
    def hofSignature(vec: org.apache.spark.sql.Column, planes: Int) = {
      val projections = (0 until planes).map { p =>
        aggregate(zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x * planeSign(p, i)), lit(0.0), (acc, v) => acc + v)
      }
      projections.zipWithIndex.map { case (proj, i) =>
        when(proj > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val vecs = emb.select($"vec_id",
      transform($"embedding", _.cast("double")).as("v"))
    for (planes <- Seq(8, 12)) {
      val mismatches = vecs.select(
          Similarity.hyperplaneSignature($"v", planes).as("native"),
          hofSignature($"v", planes).as("hof"))
        .filter($"native" =!= $"hof").count()
      assert(mismatches == 0, s"planes=$planes")
    }
    // HOF null semantics: null vector and null element both → 0
    val edge = spark.sql(
        "SELECT array(1.0D, NULL, 3.0D) AS v " +
          "UNION ALL SELECT CAST(NULL AS array<double>)")
      .select(Similarity.hyperplaneSignature($"v", 8).as("s")).collect()
    assert(edge.forall(r => r.getLong(0) == 0L))
  }

  test("semantic stratified sample: per-cell cap, cluster-true assignment") {
    // ids 1..3 are the anchors (basis vectors); 4..15 sit near one
    // basis each, so assignment is unambiguous; perStratum caps each
    // cell at 3 of its 1 + 4 members
    def v(axis: Int, eps: Double, seed: Int): Array[Float] = {
      val a = Array.fill(4)(0.0f)
      a(axis) = 1.0f
      a((axis + 1) % 4) = (eps * (1 + seed % 3)).toFloat
      a
    }
    val rows = (0 until 3).map(ax => ((ax + 1).toLong, v(ax, 0.0, 0))) ++
      (4L to 15L).map(i => (i, v(((i - 4) % 3).toInt, 0.05, i.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.semanticStratifiedSample(df, "vec_id", "embedding",
        nStrata = 3, perStratum = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 9)
    // every kept member belongs to the cluster of its anchor
    got.foreach { case (id, stratum, rank) =>
      assert(rank <= 3)
      if (id <= 3) assert(stratum == id, s"anchor $id in own stratum")
      else assert(stratum == (id - 4) % 3 + 1, s"member $id → wrong cell")
    }
    assert(got.map(_._2).groupBy(identity).forall(_._2.length == 3))
  }

  test("semantic dedup: planted copies co-cluster and are dropped") {
    // perturbed copies sit at cosine ≈ 1 to their source, so each must
    // land in its source's IVF cell and the pair must verify ≥ 0.9;
    // survivors = originals + nothing else (min-id representative)
    val copies = emb.filter($"vec_id" % 5 === 0).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.001f) + lit(0.0005f))
        .as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val pairs = Similarity.semanticNearDups(corpus, "vec_id", "embedding",
      threshold = 0.9, nCells = 8)
    val got = pairs.select("a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val want = emb.filter($"vec_id" % 5 === 0).select("vec_id").collect()
      .map(r => r.getLong(0)).map(v => v -> (v + 100000L)).toSet
    assert(got == want, s"pairs got=$got want=$want")
    val survivors = Similarity.semanticDropNearDups(corpus, "vec_id",
        "embedding", threshold = 0.9, nCells = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == emb.select("vec_id").collect()
      .map(_.getLong(0)).toSet)
  }

  test("semantic dedup rescueHot recovers an identical-vector flood") {
    // 300 byte-identical vectors land in ONE cell; with maxBucket = 100
    // the plain guard drops that cell and every copy survives dedup.
    // rescueHot collapses them to the min-id representative first.
    val boiler = spark.range(300).select(($"id" + 500000L).as("vec_id"),
      $"id".cast("int").as("__i"))
      .select($"vec_id",
        expr("transform(array(0.9D, 1.8D, -0.4D, 0.2D), x -> CAST(x AS FLOAT))")
          .as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(
      boiler.select("vec_id", "embedding"))
    val plain = Similarity.semanticDropNearDups(corpus, "vec_id",
        "embedding", threshold = 0.99, nCells = 8, maxBucket = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(plain.count(_ >= 500000L) == 300,
      "without rescue the flooded cell is dropped and every copy survives")
    val rescued = Similarity.semanticDropNearDups(corpus, "vec_id",
        "embedding", threshold = 0.99, nCells = 8, maxBucket = 100,
        rescueHot = true)
      .select("vec_id").as[Long].collect().toSet
    assert(rescued.count(_ >= 500000L) == 1,
      s"expected one flood survivor, got ${rescued.count(_ >= 500000L)}")
    spark.catalog.clearCache()
  }

  test("dot/cosine on hand vectors") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"))
    val c = df.collect()(0).getDouble(0)
    val want = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert(math.abs(c - want) < 1e-12)
  }

  test("random projection: JL distance preservation, determinism, dim contract") {
    // 64 -> 16 dims over the real embeddings: the Achlioptas bound
    // puts MOST pairwise squared distances within a modest factor —
    // assert the median ratio lands near 1 and no catastrophic
    // collapse (a sign/transpose/scale bug shatters this long before
    // the tolerance does)
    val base = emb.limit(60).select($"vec_id",
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val proj = Similarity.randomProjection(base, "emb", "proj", 64, 16)
    val rows = proj.select($"vec_id", $"emb", $"proj").collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    assert(rows.forall(_._2.length == 16))
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- rows.indices; j <- (i + 1) until rows.length
      orig = d2(rows(i)._1, rows(j)._1) if orig > 1e-12
    } yield d2(rows(i)._2, rows(j)._2) / orig
    val sorted = ratios.sorted
    val median = sorted(sorted.length / 2)
    assert(median > 0.5 && median < 2.0,
      f"median distance ratio $median%.3f out of JL range")
    assert(sorted.head > 0.05 && sorted.last < 20.0,
      f"distance ratio tails collapsed: ${sorted.head}%.3f..${sorted.last}%.3f")
    // deterministic: same seed -> identical values; new seed -> new matrix
    val again = Similarity.randomProjection(base, "emb", "proj", 64, 16)
      .select($"proj").collect().map(_.getSeq[Double](0))
    assert(again.toSeq == proj.select($"proj").collect()
      .map(_.getSeq[Double](0)).toSeq)
    val other = Similarity.randomProjection(base, "emb", "proj", 64, 16,
      seed = "rp2").select($"proj").collect().map(_.getSeq[Double](0))
    assert(other.toSeq != again.toSeq)
  }

  test("PQ codebook: dense sub×centroid grid, nSub-byte tinyint code words") {
    val idx = Similarity.buildPq(emb, "vec_id", "embedding",
      nSub = 8, nCentroids = 16)
    // the flat LUT indexes by sub·nCentroids + cid — every slot must
    // exist even if a Lloyd cell lost all members
    val cells = idx.codebooks.select($"sub", $"cid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(cells == (for (s <- 0 until 8; c <- 0 until 16)
      yield (s, c)).toSet, s"codebook not dense: ${cells.size} cells")
    // the scan-side table carries ONLY nSub bytes + one norm per vector
    val codesType = idx.codes.schema("codes").dataType
    assert(codesType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = true),
      s"codes must be tinyint, got $codesType")
    val bad = idx.codes.filter(expr(
      "size(codes) != 8 OR exists(codes, c -> c < 0 OR c >= 16)")).count()
    assert(bad == 0, s"$bad malformed code words")
    assert(idx.codes.count() == emb.count())
  }

  test("PQ exact-reconstruction corpus: nCentroids vectors round-trip, cnorm exact") {
    // exactly nCentroids distinct vectors: each sub-vector seeds its
    // own centroid, singleton Lloyd means leave it unchanged → x̂ = x
    // and the stored reconstruction norm must equal ‖x‖ to the ulp
    val tiny = emb.filter($"vec_id" < 16).select("vec_id", "embedding")
    val idx = Similarity.buildPq(tiny, "vec_id", "embedding",
      nSub = 8, nCentroids = 16)
    val maxDiff = idx.codes.join(tiny.select($"vec_id".as("neighbor_id"),
        Similarity.norm(transform($"embedding", _.cast("double"))).as("n")),
        Seq("neighbor_id"))
      .agg(max(abs($"cnorm" - $"n"))).collect()(0).getDouble(0)
    assert(maxDiff < 1e-9, s"reconstruction norm off by $maxDiff")
  }

  test("PQ top-k recall: planted near-duplicates rerank to the true top-1") {
    val copies = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val queries = emb.filter($"vec_id" < 20).select("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pq == bf, s"pq top-1 diverged: ${pq.toSet -- bf.toSet}")
  }

  test("IVF×PQ composed index: code-typed cells, float-free until rerank, full recall") {
    val idx = Similarity.buildIvfPq(emb, "vec_id", "embedding", nCells = 8)
    // the scan-side table holds ONLY the nSub-byte code word, its
    // reconstruction norm, and the cell — no floats
    assert(idx.cellCodes.columns.sorted.toSeq ==
      Seq("cell", "cnorm", "codes", "neighbor_id"))
    val codesType = idx.cellCodes.schema("codes").dataType
    assert(codesType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = true),
      s"codes must stay tinyint, got $codesType")
    // planted-copy recall: the coarse quantizer must route each query
    // to its source's cell AND the ADC pass must keep the true
    // neighbor through quantization + rerank
    val copies = emb.filter($"vec_id" < 20).select(
      ($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.01f) + lit(0.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(copies)
    val queries = emb.filter($"vec_id" < 20).select("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 1, nCells = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(composed == bf, s"ivf×pq top-1 diverged: ${composed.toSet -- bf.toSet}")
    // durable round-trip: the _meta row restores the LUT geometry and
    // the table-backed search returns the same ranked neighbors
    val mem = Similarity.buildIvfPq(corpus, "vec_id", "embedding", nCells = 8)
    Similarity.writeIvfPqIndexBucketed(mem, "ivfpq_spec", numBuckets = 4)
    val disk = Similarity.readIvfPqIndex(spark, "ivfpq_spec")
    assert(disk.nSub == mem.nSub && disk.nCentroids == mem.nCentroids)
    val qs2 = emb.filter($"vec_id".between(20, 24)).select("vec_id", "embedding")
    val memTop = Similarity.searchIvfPq(mem, corpus, qs2, "vec_id",
        "embedding", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val diskTop = Similarity.searchIvfPq(disk, corpus, qs2, "vec_id",
        "embedding", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(diskTop === memTop)
  }

  test("PQ guards: ragged dimension and sparse codebook raise, never mis-rank") {
    def msgChain(t: Throwable): String = {
      val sb = new StringBuilder
      var cur = t
      while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
      sb.toString
    }
    // 10 dims over nSub = 8: the slice-count contract breaks — must
    // raise in-plan, not quantize a ragged tail
    val bad = Seq((1L, Array.fill(10)(0.5)), (2L, Array.fill(10)(0.25)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Similarity.buildPq(bad, "vec_id", "embedding").codes.collect()
    }
    assert(msgChain(e1).contains("not divisible"), msgChain(e1).take(300))
    // 10 vectors cannot seed a dense 16-centroid grid: the flat LUT's
    // positional indexing would silently shift every slot — the
    // search-side size guard must raise instead
    val tiny = emb.filter($"vec_id" < 10).select("vec_id", "embedding")
    val idx = Similarity.buildPq(tiny, "vec_id", "embedding",
      nSub = 8, nCentroids = 16)
    val e2 = intercept[Exception] {
      Similarity.searchPq(idx, tiny, tiny, "vec_id", "embedding", 1).collect()
    }
    assert(msgChain(e2).contains("codebook has"), msgChain(e2).take(300))
  }

  test("PQ build/search split: one built index serves repeated query batches") {
    val idx = Similarity.buildPq(emb, "vec_id", "embedding",
      nSub = 8, nCentroids = 16)
    val qs1 = emb.filter($"vec_id" < 5).select("vec_id", "embedding")
    val qs2 = emb.filter($"vec_id".between(5, 9)).select("vec_id", "embedding")
    val r1 = Similarity.searchPq(idx, emb, qs1, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val r2 = Similarity.searchPq(idx, emb, qs2, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(r1.nonEmpty && r2.nonEmpty && r1.map(_._1) != r2.map(_._1))
    assert(r1.forall { case (_, _, rk) => rk >= 1 && rk <= 3 })
  }

  // clustered fixture for the Lloyd-iteration recall gates: k one-hot
  // cluster centers in d dims with gaussian noise, and — the
  // adversarial part — the first k ids (the deterministic lowest-id
  // SEEDS) all drawn from cluster 0, so the seed codebook starts
  // degenerate and each Lloyd step has to spread it. Queries are
  // FRESH samples (not corpus near-copies, which would route to their
  // neighbor's cell under any codebook and hide its quality).
  private def clusteredFixture(seed: Int, noise: Double, d: Int, k: Int,
                               n: Int, nq: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val rnd = new java.util.Random(seed.toLong)
    def vec(c: Int): Array[Float] =
      Array.tabulate(d)(j =>
        ((if (j == c) 1.0 else 0.0) + noise * rnd.nextGaussian()).toFloat)
    val corpus = (0 until n).map { i =>
      (i.toLong, vec(if (i < k) 0 else i % k))
    }
    val queries = (0 until nq).map(j => (10000L + j, vec(j % k)))
    (corpus.toDF("vec_id", "embedding"), queries.toDF("vec_id", "embedding"))
  }

  private def recallAt1(corpus: org.apache.spark.sql.DataFrame,
                        queries: org.apache.spark.sql.DataFrame,
                        approx: org.apache.spark.sql.DataFrame): Double = {
    val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toMap
    val got = approx.select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().toMap
    brute.count { case (q, nid) => got.get(q).contains(nid) }
      .toDouble / brute.size
  }

  test("IVF Lloyd iterations: 3 steps beat 1 on a degenerate-seed clustered geometry") {
    // seed 1 @ noise 0.45: recall@1 (nProbe=1) measured 0.42 → 0.58
    // over 24 queries — one step can't undo seeds all in one cluster;
    // the gate requires a ≥0.1 improvement (≥3 of 24 queries), leaving
    // slack for float-mean ulp jitter while pinning the direction
    val (corpus, queries) = clusteredFixture(1, 0.45, 16, 8, 160, 24)
    def recall(iters: Int): Double = recallAt1(corpus, queries,
      Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k = 1, nCells = 8, nProbe = 1, lloydIters = iters))
    val r1 = recall(1)
    val r3 = recall(3)
    assert(r3 >= r1 + 0.1,
      s"3 Lloyd steps should measurably beat 1: r1=$r1 r3=$r3")
  }

  test("PQ Lloyd iterations: 3 steps beat 1 on a degenerate-seed clustered geometry") {
    // oversample=1 removes the exact-rerank slack, so the ADC top-1
    // exposes raw codebook quality; seed 6 measured 0.08 → 0.29
    val (corpus, queries) = clusteredFixture(6, 0.45, 16, 8, 160, 24)
    def recall(iters: Int): Double = recallAt1(corpus, queries,
      Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 1, nSub = 4, nCentroids = 8, oversample = 1,
        lloydIters = iters))
    val r1 = recall(1)
    val r3 = recall(3)
    assert(r3 >= r1 + 0.1,
      s"3 Lloyd steps should measurably beat 1: r1=$r1 r3=$r3")
  }

  private def clusterBatch(seed: Int, noise: Double, d: Int,
                           clusters: Seq[Int], n: Int, idBase: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(seed.toLong)
    def vec(c: Int): Array[Float] =
      Array.tabulate(d)(j =>
        ((if (j == c) 1.0 else 0.0) + noise * rnd.nextGaussian()).toFloat)
    (0 until n).map(i => (idBase + i, vec(clusters(i % clusters.size))))
      .toDF("vec_id", "embedding")
  }

  test("recallProbe + driftDecision: same-distribution append passes, drifted batch fires retrain") {
    // centroids fitted on clusters 0–3 only, then a batch appends with
    // FROZEN geometry. Same-distribution batch: every new vector still
    // lands its true cluster's cell → recall holds. Drifted batch
    // (clusters 8–11 the fit never saw): members scatter across stale
    // cells, so a FRESH query's true neighbors sit outside its probed
    // cell at nProbe=1 and recall drops. Queries are fresh cluster
    // samples, NOT near-copies (a near-copy routes wherever its twin
    // routed, hiding codebook staleness). Seed 2 measured
    // same=0.875 / drift=0.403 over 24 queries at k=3 — the 0.7 gate
    // has ≥0.17 margin both sides.
    val seed = 2; val d = 16
    val b1 = clusterBatch(seed, 0.35, d, 0 until 4, 120, 0L)
    val same = clusterBatch(seed + 100, 0.35, d, 0 until 4, 80, 1000L)
    val drift = clusterBatch(seed + 200, 0.35, d, 8 until 12, 80, 1000L)
    val qSame = clusterBatch(seed + 300, 0.35, d, 0 until 4, 24, 50000L)
    val qDrift = clusterBatch(seed + 400, 0.35, d, 8 until 12, 24, 50000L)
    val base = Similarity.buildIvf(b1, "vec_id", "embedding",
      nCells = 4, lloydIters = 3)
    def decide(batch: org.apache.spark.sql.DataFrame,
               qs: org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val appended = Similarity.appendToIvf(base, batch, "vec_id",
        "embedding")
      val corpus = b1.unionByName(batch)
      val probe = Similarity.recallProbe(
        Similarity.searchIvf(appended, qs, "vec_id", "embedding", k = 3,
          nProbe = 1),
        corpus, qs, "vec_id", "embedding", k = 3)
      val row = Similarity.driftDecision(probe, minRecall = 0.7)
        .collect()(0)
      assert(row.getLong(0) == 24L, "one probe row per sampled query")
      (row.getDouble(1), row.getBoolean(2))
    }
    val (rS, retrainS) = decide(same, qSame)
    val (rD, retrainD) = decide(drift, qDrift)
    assert(!retrainS && rS >= 0.8,
      s"same-distribution append must keep recall: $rS")
    assert(retrainD && rD <= 0.6,
      s"drifted append under frozen centroids must fire retrain: $rD")
  }

  test("appendToIvfPq/appendToIvfSq: appended index matches rebuilt recall on planted queries") {
    import spark.implicits._
    // batch-2 split: the planted near-copy queries target BOTH halves,
    // so recall requires the appended vectors to be genuinely
    // searchable through frozen centroids + codebooks
    val corpus = emb.select($"vec_id", $"embedding")
    val b1 = corpus.filter($"vec_id" % 2 === 0)
    val b2 = corpus.filter($"vec_id" % 2 =!= 0)
    val queries = corpus.filter($"vec_id" < 10)
      .select(($"vec_id" + 10000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) * 1.001 + 0.0005)")
          .as("embedding"))
    def r1(ann: org.apache.spark.sql.DataFrame): Double =
      recallAt1(corpus, queries, ann.filter($"rank" === 1))
    val appendedPq = Similarity.appendToIvfPq(
      Similarity.buildIvfPq(b1, "vec_id", "embedding", lloydIters = 3),
      b2, "vec_id", "embedding")
    val rebuiltPq = Similarity.buildIvfPq(corpus, "vec_id", "embedding",
      lloydIters = 3)
    val rApp = r1(Similarity.searchIvfPq(appendedPq, corpus, queries,
      "vec_id", "embedding", k = 3))
    val rReb = r1(Similarity.searchIvfPq(rebuiltPq, corpus, queries,
      "vec_id", "embedding", k = 3))
    assert(rApp >= rReb - 0.1 && rApp >= 0.9,
      s"IVF×PQ appended recall must hold: appended=$rApp rebuilt=$rReb")
    val appendedSq = Similarity.appendToIvfSq(
      Similarity.buildIvfSq(b1, "vec_id", "embedding"),
      b2, "vec_id", "embedding")
    val rSq = r1(Similarity.searchIvfSq(appendedSq, corpus, queries,
      "vec_id", "embedding", k = 3))
    assert(rSq >= 0.9, s"IVF×SQ appended recall must hold: $rSq")
    val appendedLsh = Similarity.appendToLsh(
      Similarity.buildLsh(b1, "vec_id", "embedding"),
      b2, "vec_id", "embedding")
    val rLsh = r1(Similarity.searchLsh(appendedLsh, queries,
      "vec_id", "embedding", k = 3))
    assert(rLsh >= 0.9, s"LSH appended recall must hold: $rLsh")
  }

  test("SQ + PQ persistence: reopened indexes reproduce the in-memory search; torn rebuild refuses") {
    import spark.implicits._
    val corpus = emb.select($"vec_id", $"embedding").filter($"vec_id" < 200)
    val queries = corpus.filter($"vec_id" < 5)
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val sq = Similarity.buildSq(corpus, "vec_id", "embedding")
    Similarity.writeSqIndex(sq, "sq_rt")
    val sqDisk = Similarity.readSqIndex(spark, "sq_rt")
    assert(top(Similarity.searchSq(sqDisk, corpus, queries, "vec_id",
        "embedding", k = 3)) ===
      top(Similarity.searchSq(sq, corpus, queries, "vec_id",
        "embedding", k = 3)))
    val pq = Similarity.buildPq(corpus, "vec_id", "embedding",
      nSub = 4, nCentroids = 8)
    Similarity.writePqIndex(pq, "pq_rt")
    val pqDisk = Similarity.readPqIndex(spark, "pq_rt")
    assert(pqDisk.nSub == 4 && pqDisk.nCentroids == 8)
    assert(top(Similarity.searchPq(pqDisk, corpus, queries, "vec_id",
        "embedding", k = 3)) ===
      top(Similarity.searchPq(pq, corpus, queries, "vec_id",
        "embedding", k = 3)))
    // torn same-prefix rebuild: the data table lost the meta's epoch
    graft.sources.Generations.clearEpochTokens(spark, "pq_rt_codes")
    assert(intercept[IllegalArgumentException] {
      Similarity.readPqIndex(spark, "pq_rt")
    }.getMessage.contains("epoch token"))
  }

  test("buildIvf/buildPq: escaped centroids/codebooks are driver-local, not checkpoint-backed") {
    // advisor r11: the returned frames outlive the fit — if they were
    // the loop's localCheckpoint frames, a lost executor would strand
    // every later search on missing non-recomputable blocks. A
    // LocalRelation (driver-local rows) can't lose anything.
    val rnd = new scala.util.Random(3)
    val corpus = (1L to 60L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    def checkpointBacked(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
      }.nonEmpty
    val ivf = Similarity.buildIvf(corpus, "vec_id", "embedding",
      nCells = 4, lloydIters = 2)
    assert(!checkpointBacked(ivf.centroids),
      "IVF centroids must escape as a local relation")
    val pq = Similarity.buildPq(corpus, "vec_id", "embedding",
      nSub = 4, nCentroids = 8, lloydIters = 2)
    assert(!checkpointBacked(pq.codebooks),
      "PQ codebooks must escape as a local relation")
    // and the escaped frames still search correctly
    val queries = corpus.filter($"vec_id" <= 3)
    assert(Similarity.searchIvf(ivf, queries, "vec_id", "embedding",
      k = 2).count() > 0)
    assert(Similarity.searchPq(pq, corpus, queries, "vec_id", "embedding",
      k = 2).count() > 0)
  }

  // ------------------------------------------------------------------
  // warm-start drift retrain (the q116 drift loop CLOSED)

  /** The q123 planted drift geometry: base clusters on e0 (odd ids
    * 1..19) / e1 (even ids 2..20), a drifted batch on e2 leaning e0
    * (ids 101..110), and queries on e2 leaning e1 (ids 1001..1010) —
    * so every nProbe=1 probe of the FROZEN build geometry lands the
    * cell without the true twin (recall 0) and one sampled warm Lloyd
    * step pulls centroid 1 into the drifted region (recall 1). */
  private def plantedDrift = {
    val base = (1L to 20L).map { i =>
      val k = if (i % 2 == 1) (i + 1) / 2 else i / 2
      val v = if (i % 2 == 1) Seq(1.0, 0.0, 0.0, 0.1 * k)
              else Seq(0.0, 1.0, 0.0, 0.1 * k)
      (i, v)
    }.toDF("vec_id", "embedding")
    val drift = (1L to 10L).map(i =>
      (100L + i, Seq(0.05, 0.0, 1.0, 0.1 * i))).toDF("vec_id", "embedding")
    val queries = (1L to 10L).map(i =>
      (1000L + i, Seq(0.0, 0.05, 1.0, 0.1 * i))).toDF("vec_id", "embedding")
    (base, drift, queries)
  }

  private def meanRecall(ann: org.apache.spark.sql.DataFrame,
                         corpus: org.apache.spark.sql.DataFrame,
                         queries: org.apache.spark.sql.DataFrame): Double =
    Similarity.driftDecision(
      Similarity.recallProbe(ann, corpus, queries, "vec_id", "embedding",
        k = 1), minRecall = 0.9)
      .collect()(0).getDouble(1)

  test("retrainIvfCentroids: fit is sample-exact; a cell the sample misses keeps its centroid") {
    val current = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("cell", "cvec")
    // both sample rows assign to cell 1 (argmax cosine); cell 2 draws
    // nothing — the refit centroid must be EXACTLY the sample mean
    // (any row beyond the sample entering the fit would shift it) and
    // cell 2 must keep its previous centroid, not drop (retrain never
    // shrinks the probe space on sampling luck)
    val sample = Seq((101L, Seq(0.9, 0.1)), (102L, Seq(0.8, 0.0)))
      .toDF("id", "vec")
    val out = Similarity.retrainIvfCentroids(current, sample, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq((0.9 + 0.8) / 2, (0.1 + 0.0) / 2),
      s"cell 1 must be the exact sample mean: ${out(1L)}")
    assert(out(2L) == Seq(0.0, 1.0),
      s"sample-empty cell 2 must keep its previous centroid: ${out(2L)}")
  }

  test("durable IVF drift retrain: recall 0 → 1, A/B generation swap, torn window refuses") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvf(base, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    val grown = Similarity.appendToIvf(built, drift, "vec_id", "embedding")
    Similarity.writeIvfIndexBucketed(grown, "ivf_retrain", numBuckets = 2)
    val pre = Similarity.readIvfIndex(spark, "ivf_retrain")
    val preAnn = Similarity.searchIvf(pre, queries, "vec_id", "embedding",
      k = 1, nProbe = 1).localCheckpoint()
    assert(meanRecall(preAnn, corpus, queries) == 0.0,
      "frozen geometry must miss every drifted twin")
    Similarity.retrainIvfIndexBucketed(spark, "ivf_retrain",
      s => s.filter($"__rid" % 2 === 1), lloydIters = 1, numBuckets = 2)
    // the generation swapped: live cells moved to the B table, the
    // superseded A table dropped, and the reopened index recovers
    assert(spark.catalog.tableExists("ivf_retrain_cells_b"))
    assert(!spark.catalog.tableExists("ivf_retrain_cells"))
    val post = Similarity.readIvfIndex(spark, "ivf_retrain")
    val postAnn = Similarity.searchIvf(post, queries, "vec_id",
      "embedding", k = 1, nProbe = 1)
    assert(meanRecall(postAnn, corpus, queries) == 1.0,
      "one sampled warm Lloyd step must recover every drifted twin")
    // a second retrain flips back to the A side (the pair alternates)
    Similarity.retrainIvfIndexBucketed(spark, "ivf_retrain",
      s => s.filter($"__rid" % 2 === 1), lloydIters = 1, numBuckets = 2)
    assert(spark.catalog.tableExists("ivf_retrain_cells"))
    assert(!spark.catalog.tableExists("ivf_retrain_cells_b"))
    // a served table whose epoch token is gone (a torn in-place
    // append or rewrite): reopen refuses loudly
    graft.sources.Generations.clearEpochTokens(spark, "ivf_retrain_centroids")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, "ivf_retrain")
    }.getMessage.contains("epoch token"))
  }

  test("durable IVF×PQ drift retrain: recall recovers, ledger resets, swap + torn refusal") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfPq(base, "vec_id", "embedding",
      nCells = 2, nSub = 2, nCentroids = 2, lloydIters = 1)
    Similarity.writeIvfPqIndexBucketed(built, "ivfpq_retrain",
      numBuckets = 2)
    Similarity.appendToIvfPqIndexBucketed(spark, "ivfpq_retrain", drift,
      "vec_id", "embedding")
    val pre = Similarity.readIvfPqIndex(spark, "ivfpq_retrain")
    // oversample wide enough that the exact rerank sees every probed
    // candidate — isolating recall to the COARSE geometry under test
    val preAnn = Similarity.searchIvfPq(pre, corpus, queries, "vec_id",
      "embedding", k = 1, nProbe = 1, oversample = 32).localCheckpoint()
    assert(meanRecall(preAnn, corpus, queries) == 0.0,
      "frozen coarse geometry must miss every drifted twin")
    Similarity.retrainIvfPqIndexBucketed(spark, "ivfpq_retrain", corpus,
      "vec_id", "embedding",
      sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
      numBuckets = 2)
    assert(spark.catalog.tableExists("ivfpq_retrain_cell_codes_b"))
    assert(!spark.catalog.tableExists("ivfpq_retrain_cell_codes"))
    val post = Similarity.readIvfPqIndex(spark, "ivfpq_retrain")
    val postAnn = Similarity.searchIvfPq(post, corpus, queries, "vec_id",
      "embedding", k = 1, nProbe = 1, oversample = 32)
    assert(meanRecall(postAnn, corpus, queries) == 1.0,
      "retrained coarse geometry must recover every drifted twin")
    // the growth ledger reset: every appended row absorbed as built
    val stats = Similarity.readIvfPqCellStats(spark, "ivfpq_retrain")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(stats.map(_._1).sum == 30L && stats.forall(_._2 == 0L),
      s"retrain must absorb appends into n_built: ${stats.mkString(",")}")
    // torn swap window: a wiped epoch on the new generation refuses
    graft.sources.Generations.clearEpochTokens(spark, "ivfpq_retrain_cell_codes_b")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfPqIndex(spark, "ivfpq_retrain")
    }.getMessage.contains("epoch token"))
  }

  test("maintainIvfPqIndex: heal swaps once, no-op leaves the meta row untouched, probe is tombstone-aware") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfPq(base, "vec_id", "embedding",
      nCells = 2, nSub = 2, nCentroids = 2, lloydIters = 1)
    Similarity.writeIvfPqIndexBucketed(built, "ivfpq_maint", numBuckets = 2)
    Similarity.appendToIvfPqIndexBucketed(spark, "ivfpq_maint", drift,
      "vec_id", "embedding")
    def maintain(): org.apache.spark.sql.Row =
      Similarity.maintainIvfPqIndex(spark, "ivfpq_maint", corpus,
        "vec_id", "embedding", queries, k = 1, minRecall = 0.9,
        sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
        nProbe = 1, oversample = 32, numBuckets = 2).collect()(0)
    val heal = maintain()
    assert(heal.getDouble(1) == 0.0 && heal.getBoolean(2) &&
      heal.getDouble(3) == 1.0 && !heal.getBoolean(4) &&
      heal.getBoolean(5),
      s"drifted index must heal through the one call: $heal")
    // the no-op: decision quiet, and the META ROW is bit-identical —
    // no generation write, no pointer move, no epoch restamp
    val metaBefore = spark.table("ivfpq_maint_meta").collect().toSeq
    val noop = maintain()
    assert(!noop.getBoolean(2) && noop.getDouble(1) == 1.0 &&
      !noop.getBoolean(5), s"undrifted index must be a no-op: $noop")
    assert(spark.table("ivfpq_maint_meta").collect().toSeq == metaBefore,
      "a quiet maintenance window must not touch the commit record")
    // tombstone-aware probe: take down the EVEN drifted twins — each
    // affected query's live truth becomes a neighbouring odd twin in
    // the same (probed) cell, so the served answer still matches the
    // LIVE truth and the window stays quiet. Were the truth side not
    // purged, brute force would keep electing the deleted twins the
    // search can no longer serve — recall would read 0.5 and the
    // window would retrain to chase deleted vectors.
    Similarity.tombstoneIvfPq(spark, "ivfpq_maint",
      drift.filter($"vec_id" % 2 === 0).select($"vec_id"), "vec_id")
    val tombed = maintain()
    assert(!tombed.getBoolean(2) && tombed.getDouble(1) == 1.0,
      s"tombstoned truth must not read as drift: $tombed")
  }

  test("maintainIvfIndex: self-contained window heals from the index's own rows; no-op untouched") {
    val (base, drift, queries) = plantedDrift
    val built = Similarity.buildIvf(base, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    val grown = Similarity.appendToIvf(built, drift, "vec_id", "embedding")
    Similarity.writeIvfIndexBucketed(grown, "ivf_maint", numBuckets = 2)
    def maintain(): org.apache.spark.sql.Row =
      Similarity.maintainIvfIndex(spark, "ivf_maint", queries,
        "vec_id", "embedding", k = 1, minRecall = 0.9,
        sampleFilter = s => s.filter($"__rid" % 2 === 1),
        lloydIters = 1, nProbe = 1, numBuckets = 2).collect()(0)
    val heal = maintain()
    assert(heal.getDouble(1) == 0.0 && heal.getBoolean(2) &&
      heal.getDouble(3) == 1.0 && heal.getBoolean(5),
      s"drifted index must heal from its own durable rows: $heal")
    val metaBefore = spark.table("ivf_maint_meta").collect().toSeq
    val noop = maintain()
    assert(!noop.getBoolean(2) && noop.getDouble(1) == 1.0 &&
      !noop.getBoolean(5), s"undrifted index must be a no-op: $noop")
    assert(spark.table("ivf_maint_meta").collect().toSeq == metaBefore,
      "a quiet window must not touch the commit record")
  }

  test("IVF×SQ drift retrain: warm centroids recover recall; SQ stats re-cover the grown range") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfSq(base, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    val grown = Similarity.appendToIvfSq(built, drift, "vec_id",
      "embedding")
    val preAnn = Similarity.searchIvfSq(grown, corpus, queries, "vec_id",
      "embedding", k = 1, nProbe = 1, oversample = 32)
    assert(meanRecall(preAnn, corpus, queries) == 0.0,
      "frozen coarse geometry must miss every drifted twin")
    val retrained = Similarity.retrainIvfSq(grown, corpus, "vec_id",
      "embedding", sample = corpus.filter($"vec_id" % 2 === 1))
    val postAnn = Similarity.searchIvfSq(retrained, corpus, queries,
      "vec_id", "embedding", k = 1, nProbe = 1, oversample = 32)
    assert(meanRecall(postAnn, corpus, queries) == 1.0,
      "one sampled warm Lloyd step must recover every drifted twin")
    // the stats row covers the GROWN range (a sample-only stats fit
    // would saturate the drifted dimension and quantize it flat):
    // the e2 axis (dim 3) is constant 0 in the build corpus (scale
    // falls back to 1.0) and spans [0, 1] once the drift rows enter —
    // the retrained scale must be the real (1 − 0)/255
    val scale3 = retrained.stats.select(element_at(col("scales"), 3))
      .collect()(0).getDouble(0)
    assert(math.abs(scale3 - 1.0 / 255.0) < 1e-12,
      s"stats must re-cover the drifted axis: scale $scale3")
  }

  test("IVF×PQ takedown: logical delete serves the runner-up; retrain purges physically") {
    val (base, drift, _) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfPq(corpus, "vec_id", "embedding",
      nCells = 2, nSub = 2, nCentroids = 2, lloydIters = 1)
    Similarity.writeIvfPqIndexBucketed(built, "ivfpq_td", numBuckets = 2)
    // query = a near-copy of drifted member 105; its true top-1 is
    // 105, runner-up its jitter-neighbors
    val q = drift.filter($"vec_id" === 105L)
      .select(lit(9105L).as("vec_id"),
        expr("transform(embedding, x -> x * 1.001 + 0.0001)")
          .as("embedding"))
    def top1(): Long = Similarity.searchIvfPqLive(spark, "ivfpq_td",
        corpus, q, "vec_id", "embedding", k = 1, oversample = 32)
      .filter($"rank" === 1).collect()(0).getLong(1)
    assert(top1() == 105L)
    // idempotent tombstoning (a re-run of a crashed batch converges)
    Similarity.tombstoneIvfPq(spark, "ivfpq_td",
      Seq(105L).toDF("vec_id"), "vec_id")
    Similarity.tombstoneIvfPq(spark, "ivfpq_td",
      Seq(105L, 104L).toDF("vec_id"), "vec_id")
    assert(Similarity.readIvfPqTombstones(spark, "ivfpq_td")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(104L, 105L))
    val runnerUp = top1()
    assert(runnerUp != 105L && runnerUp != 104L,
      s"tombstoned ids must be invisible pre-rank: got $runnerUp")
    // the retrain purges: tombstoned rows leave the scan side, the
    // ledger clears, and the served answer does not move
    Similarity.retrainIvfPqIndexBucketed(spark, "ivfpq_td", corpus,
      "vec_id", "embedding",
      sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
      numBuckets = 2)
    val disk = Similarity.readIvfPqIndex(spark, "ivfpq_td")
    val ids = disk.cellCodes.select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(!ids.contains(105L) && !ids.contains(104L) && ids.size == 28,
      s"purge must remove exactly the tombstoned rows: ${ids.size}")
    assert(Similarity.readIvfPqTombstones(spark, "ivfpq_td").count() == 0L,
      "the tombstone ledger clears once deletes are physical")
    assert(top1() == runnerUp,
      "the served answer must not move across the purge")
  }

  test("IVF takedown: live view excludes pre-rank; retrain purges physically and clears the ledger") {
    val (base, drift, _) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvf(corpus, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    Similarity.writeIvfIndexBucketed(built, "ivf_td", numBuckets = 2)
    val q = drift.filter($"vec_id" === 105L)
      .select(lit(9105L).as("vec_id"),
        expr("transform(embedding, x -> x * 1.001 + 0.0001)")
          .as("embedding"))
    def top1(): Long = Similarity.searchIvfLive(spark, "ivf_td", q,
        "vec_id", "embedding", k = 1)
      .filter($"rank" === 1).collect()(0).getLong(1)
    assert(top1() == 105L)
    // idempotent ledger filing (a crashed batch re-runs, converges)
    Similarity.tombstoneIvf(spark, "ivf_td", Seq(105L).toDF("vec_id"),
      "vec_id")
    Similarity.tombstoneIvf(spark, "ivf_td",
      Seq(105L, 104L).toDF("vec_id"), "vec_id")
    assert(Similarity.readIvfTombstones(spark, "ivf_td")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(104L, 105L))
    val runnerUp = top1()
    assert(runnerUp != 105L && runnerUp != 104L,
      s"tombstoned ids must be invisible pre-rank: got $runnerUp")
    // the streaming member arrays see the same live view
    val liveIds = Similarity.cellMembersLive(spark, "ivf_td")
      .select(explode(col("members")).as("m"))
      .select(col("m.neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(!liveIds.contains(105L) && !liveIds.contains(104L) &&
      liveIds.size == 28,
      s"cellMembersLive must drop exactly the tombstoned rows: ${liveIds.size}")
    // retrain = the physical purge point: rows leave the scan side,
    // the ledger clears, the served answer does not move
    Similarity.retrainIvfIndexBucketed(spark, "ivf_td",
      s => s.filter($"__rid" % 2 === 1), lloydIters = 1, numBuckets = 2)
    val ids = Similarity.readIvfIndex(spark, "ivf_td").corpusCells
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(105L) && !ids.contains(104L) && ids.size == 28,
      s"purge must remove exactly the tombstoned rows: ${ids.size}")
    assert(Similarity.readIvfTombstones(spark, "ivf_td").count() == 0L,
      "the tombstone ledger clears once deletes are physical")
    assert(top1() == runnerUp,
      "the served answer must not move across the purge")
  }

  test("appendToIvfIndexBucketed: O(new) growth equals the in-memory append; torn mid-append refuses") {
    val (base, drift, queries) = plantedDrift
    Similarity.writeIvfIndexBucketed(
      Similarity.buildIvf(base, "vec_id", "embedding", nCells = 2,
        lloydIters = 1), "ivf_app", numBuckets = 2)
    Similarity.appendToIvfIndexBucketed(spark, "ivf_app", drift,
      "vec_id", "embedding")
    val reopened = Similarity.readIvfIndex(spark, "ivf_app")
    assert(reopened.corpusCells.count() == 30,
      "appended batch must land beside the built rows")
    val mem = Similarity.appendToIvf(
      Similarity.buildIvf(base, "vec_id", "embedding", nCells = 2,
        lloydIters = 1), drift, "vec_id", "embedding")
    def cellMap(idx: Similarity.IvfIndex) =
      idx.corpusCells.select("neighbor_id", "cell").collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(cellMap(reopened) == cellMap(mem),
      "durable append must assign exactly like the in-memory path")
    val d1 = Similarity.searchIvf(reopened, queries, "vec_id",
      "embedding", k = 1, nProbe = 2).collect().toSet
    val d2 = Similarity.searchIvf(mem, queries, "vec_id",
      "embedding", k = 1, nProbe = 2).collect().toSet
    assert(d1 == d2)
    graft.sources.Generations.clearEpochTokens(spark, "ivf_app_cells")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, "ivf_app")
    }.getMessage.contains("epoch token"))
  }

  test("durable IVF×SQ retrain: A/B swap from a legacy meta, recall recovers, torn window refuses") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val grown = Similarity.appendToIvfSq(
      Similarity.buildIvfSq(base, "vec_id", "embedding", nCells = 2,
        lloydIters = 1), drift, "vec_id", "embedding")
    // written by the PRE-retrain writer: the meta carries no pointer
    // column — the resolver must default to the original codes table
    Similarity.writeIvfSqIndexBucketed(grown, "ivfsq_retrain",
      numBuckets = 2)
    val preAnn = Similarity.searchIvfSq(
      Similarity.readIvfSqIndex(spark, "ivfsq_retrain"), corpus, queries,
      "vec_id", "embedding", k = 1, nProbe = 1, oversample = 32)
      .localCheckpoint()
    assert(meanRecall(preAnn, corpus, queries) == 0.0,
      "frozen coarse geometry must miss every drifted twin")
    Similarity.retrainIvfSqIndexBucketed(spark, "ivfsq_retrain", corpus,
      "vec_id", "embedding",
      sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
      numBuckets = 2)
    assert(spark.catalog.tableExists("ivfsq_retrain_cell_codes_b"))
    assert(!spark.catalog.tableExists("ivfsq_retrain_cell_codes"))
    val postAnn = Similarity.searchIvfSq(
      Similarity.readIvfSqIndex(spark, "ivfsq_retrain"), corpus, queries,
      "vec_id", "embedding", k = 1, nProbe = 1, oversample = 32)
    assert(meanRecall(postAnn, corpus, queries) == 1.0,
      "one sampled warm Lloyd step must recover every drifted twin")
    // a second retrain flips back to the A side (the pair alternates)
    Similarity.retrainIvfSqIndexBucketed(spark, "ivfsq_retrain", corpus,
      "vec_id", "embedding",
      sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
      numBuckets = 2)
    assert(spark.catalog.tableExists("ivfsq_retrain_cell_codes"))
    assert(!spark.catalog.tableExists("ivfsq_retrain_cell_codes_b"))
    // a served table whose epoch token is gone (a torn in-place
    // append or rewrite): reopen refuses loudly
    graft.sources.Generations.clearEpochTokens(spark, "ivfsq_retrain_stats")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfSqIndex(spark, "ivfsq_retrain")
    }.getMessage.contains("epoch token"))
  }

  test("appendToIvfSqIndexBucketed: O(new) growth equals the in-memory append; torn mid-append refuses") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfSq(base, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    Similarity.writeIvfSqIndexBucketed(built, "ivfsq_app", numBuckets = 2)
    Similarity.appendToIvfSqIndexBucketed(spark, "ivfsq_app", drift,
      "vec_id", "embedding")
    val reopened = Similarity.readIvfSqIndex(spark, "ivfsq_app")
    assert(reopened.cellCodes.count() == 30,
      "appended batch must land beside the built rows")
    // durable route ≡ in-memory appendToIvfSq, code-for-code
    val mem = Similarity.appendToIvfSq(built, drift, "vec_id", "embedding")
    def codeMap(df: org.apache.spark.sql.DataFrame) =
      df.select("neighbor_id", "cell", "codes").collect()
        .map(r => r.getLong(0) ->
          ((r.get(1), r.getSeq[Byte](2).toList))).toMap
    assert(codeMap(reopened.cellCodes) == codeMap(mem.cellCodes),
      "durable append must quantize and assign exactly like the in-memory path")
    // search over the reopened grown index matches the in-memory one
    val d1 = Similarity.searchIvfSq(reopened, corpus, queries, "vec_id",
      "embedding", k = 1, nProbe = 2, oversample = 32).collect().toSet
    val d2 = Similarity.searchIvfSq(mem, corpus, queries, "vec_id",
      "embedding", k = 1, nProbe = 2, oversample = 32).collect().toSet
    assert(d1 == d2)
    // crash mid-append ≡ cleared epoch on the codes table → refuse
    graft.sources.Generations.clearEpochTokens(spark, "ivfsq_app_cell_codes")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfSqIndex(spark, "ivfsq_app")
    }.getMessage.contains("epoch token"))
  }

  test("IVF×SQ takedown: pre-rank exclusion serves the runner-up; retrain purges and clears the ledger") {
    val (base, drift, _) = plantedDrift
    val corpus = base.unionByName(drift)
    val built = Similarity.buildIvfSq(corpus, "vec_id", "embedding",
      nCells = 2, lloydIters = 1)
    Similarity.writeIvfSqIndexBucketed(built, "ivfsq_td", numBuckets = 2)
    val q = drift.filter($"vec_id" === 105L)
      .select(lit(9105L).as("vec_id"),
        expr("transform(embedding, x -> x * 1.001 + 0.0001)")
          .as("embedding"))
    def top1(): Long = Similarity.searchIvfSqLive(spark, "ivfsq_td",
        corpus, q, "vec_id", "embedding", k = 1, oversample = 32)
      .filter($"rank" === 1).collect()(0).getLong(1)
    assert(top1() == 105L)
    Similarity.tombstoneIvfSq(spark, "ivfsq_td",
      Seq(105L).toDF("vec_id"), "vec_id")
    Similarity.tombstoneIvfSq(spark, "ivfsq_td",
      Seq(105L, 104L).toDF("vec_id"), "vec_id")
    assert(Similarity.readIvfSqTombstones(spark, "ivfsq_td")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(104L, 105L))
    val runnerUp = top1()
    assert(runnerUp != 105L && runnerUp != 104L,
      s"tombstoned ids must be invisible pre-rank: got $runnerUp")
    Similarity.retrainIvfSqIndexBucketed(spark, "ivfsq_td", corpus,
      "vec_id", "embedding",
      sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
      numBuckets = 2)
    val ids = Similarity.readIvfSqIndex(spark, "ivfsq_td").cellCodes
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(105L) && !ids.contains(104L) && ids.size == 28,
      s"purge must remove exactly the tombstoned rows: ${ids.size}")
    assert(Similarity.readIvfSqTombstones(spark, "ivfsq_td").count() == 0L,
      "the tombstone ledger clears once deletes are physical")
    assert(top1() == runnerUp,
      "the served answer must not move across the purge")
  }

  test("maintainIvfSqIndex: heal swaps once, no-op leaves the meta row untouched") {
    val (base, drift, queries) = plantedDrift
    val corpus = base.unionByName(drift)
    val grown = Similarity.appendToIvfSq(
      Similarity.buildIvfSq(base, "vec_id", "embedding", nCells = 2,
        lloydIters = 1), drift, "vec_id", "embedding")
    Similarity.writeIvfSqIndexBucketed(grown, "ivfsq_maint",
      numBuckets = 2)
    def maintain(): org.apache.spark.sql.Row =
      Similarity.maintainIvfSqIndex(spark, "ivfsq_maint", corpus,
        "vec_id", "embedding", queries, k = 1, minRecall = 0.9,
        sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
        nProbe = 1, oversample = 32, numBuckets = 2).collect()(0)
    val heal = maintain()
    assert(heal.getDouble(1) == 0.0 && heal.getBoolean(2) &&
      heal.getDouble(3) == 1.0 && !heal.getBoolean(4) &&
      heal.getBoolean(5),
      s"drifted index must heal through the one call: $heal")
    val metaBefore = spark.table("ivfsq_maint_meta").collect().toSeq
    val noop = maintain()
    assert(!noop.getBoolean(2) && noop.getDouble(1) == 1.0 &&
      !noop.getBoolean(5), s"undrifted index must be a no-op: $noop")
    assert(spark.table("ivfsq_maint_meta").collect().toSeq == metaBefore,
      "a quiet maintenance window must not touch the commit record")
  }

  test("LSH takedown: pre-rank exclusion, physical purge via one call, quiet no-op, torn refusal") {
    // EXACT twins (identical vectors → identical signatures) make
    // bucket recovery certain and the top-1 tie (cosine 1.0) resolve
    // by the deterministic id tie-break — so every world's answer is
    // pinned, not probabilistic
    val twins = emb.filter($"vec_id" < 5).select(
      ($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.select("vec_id", "embedding").unionByName(twins)
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    Similarity.writeLshIndexBucketed(
      Similarity.buildLsh(corpus, "vec_id", "embedding", planes = 8),
      "lsh_td", numBuckets = 2)
    def top1(): Map[Long, Long] = Similarity.searchLshLive(spark,
        "lsh_td", queries, "vec_id", "embedding", k = 1)
      .filter($"rank" === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pre: original and twin tie at cosine 1.0 → smaller id wins
    assert(top1() == (0L until 5L).map(i => (i + 10000L) -> i).toMap)
    // idempotent ledger filing (a crashed half-applied batch re-runs)
    Similarity.tombstoneLsh(spark, "lsh_td",
      Seq(0L, 1L).toDF("vec_id"), "vec_id")
    Similarity.tombstoneLsh(spark, "lsh_td",
      (0L until 5L).toDF("vec_id"), "vec_id")
    assert(Similarity.readLshTombstones(spark, "lsh_td")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L).toSeq)
    // live: exclusion is pre-rank — the exact twin serves, not a
    // shortened result
    val twinTop = (0L until 5L).map(i => (i + 10000L) -> (i + 100000L)).toMap
    assert(top1() == twinTop,
      "tombstoned rows must leave the probe buckets logically NOW")
    // the one-call purge: fires, swaps the A/B generation, clears
    val rep = Similarity.purgeLshIndex(spark, "lsh_td", numBuckets = 2)
      .collect()(0)
    assert(rep.getLong(0) == 5L && rep.getBoolean(1) && rep.getBoolean(2),
      s"pending tombstones must fire the purge: $rep")
    val ids = Similarity.readLshIndex(spark, "lsh_td").hashedCorpus
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert((0L until 5L).forall(i => !ids.contains(i)),
      "purged rows must leave the signature table PHYSICALLY")
    assert(ids.size == corpus.count().toInt - 5)
    assert(Similarity.readLshTombstones(spark, "lsh_td").count() == 0L,
      "the ledger clears once deletes are physical")
    assert(top1() == twinTop,
      "the served answer must not move across the purge")
    // quiet no-op: no pending debt → meta row bit-identical
    val metaBefore = spark.table("lsh_td_meta").collect().toSeq
    val noop = Similarity.purgeLshIndex(spark, "lsh_td", numBuckets = 2)
      .collect()(0)
    assert(noop.getLong(0) == 0L && !noop.getBoolean(1) &&
      !noop.getBoolean(2), s"empty ledger must be a no-op: $noop")
    assert(spark.table("lsh_td_meta").collect().toSeq == metaBefore,
      "a quiet purge must not touch the commit record")
    // a mistyped takedown REFUSES loudly instead of silently no-oping:
    // null ids survive any cast and would never anti-join anything
    assert(intercept[IllegalArgumentException] {
      Similarity.tombstoneLsh(spark, "lsh_td",
        Seq(Option.empty[Long], Some(7L)).toDF("vec_id"), "vec_id")
    }.getMessage.contains("REFUSED"))
    // torn purge (crash after the swap wipes the old epoch, before
    // the meta flip): simulated by clearing the live epoch token —
    // the read face must refuse, never serve the wrong generation
    graft.sources.Generations.clearEpochTokens(spark, "lsh_td_hashed_b")
    assert(intercept[IllegalArgumentException] {
      Similarity.readLshIndex(spark, "lsh_td")
    }.getMessage.contains("epoch token"))
  }

  test("appendToLshIndexBucketed: O(new) growth equals the in-memory append; torn mid-append refuses") {
    val base = emb.filter($"vec_id" >= 10).select("vec_id", "embedding")
    val batch = emb.filter($"vec_id" < 10).select("vec_id", "embedding")
    Similarity.writeLshIndexBucketed(
      Similarity.buildLsh(base, "vec_id", "embedding", planes = 8),
      "lsh_app", numBuckets = 2)
    Similarity.appendToLshIndexBucketed(spark, "lsh_app", batch,
      "vec_id", "embedding")
    val reopened = Similarity.readLshIndex(spark, "lsh_app")
    assert(reopened.hashedCorpus.count() == emb.count(),
      "appended batch must land beside the built rows")
    // frozen hyperplanes: the durable append buckets exactly like the
    // in-memory union (and like a full rebuild)
    val mem = Similarity.appendToLsh(
      Similarity.buildLsh(base, "vec_id", "embedding", planes = 8),
      batch, "vec_id", "embedding")
    def bucketMap(idx: Similarity.LshIndex) =
      idx.hashedCorpus.select("neighbor_id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bucketMap(reopened) == bucketMap(mem),
      "durable append must hash exactly like the in-memory path")
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val d1 = Similarity.searchLsh(reopened, queries, "vec_id",
      "embedding", k = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d2 = Similarity.searchLsh(mem, queries, "vec_id",
      "embedding", k = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d1 == d2)
    graft.sources.Generations.clearEpochTokens(spark, "lsh_app_hashed")
    assert(intercept[IllegalArgumentException] {
      Similarity.readLshIndex(spark, "lsh_app")
    }.getMessage.contains("epoch token"))
  }
}
