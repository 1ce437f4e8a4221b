package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Image gates: decode, perceptual-hash and embedding dedup,
  * admission streams, quarantine, resize, datasheets and the media
  * cascade. */
object ImageQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // REAL image decode through the multimodal codec boundary:
    // deterministic pixel-ramp PNGs are encoded driver-side (40
    // bounded rows), decoded back by javax.imageio inside
    // mapPartitions, and feature-extracted to per-channel sums — PNG
    // is lossless, so the decoded bytes must reproduce the generator
    // formula exactly, which is what lets DuckDB oracle a binary
    // codec it cannot run: it replays the ramp arithmetic
    // ((id·31 + c·7 + y·w + x) mod 256) and the channel sums in SQL.
    // Planted corrupt payloads (truncated PNG, non-image bytes, empty)
    // must survive as null rows — one bad crawl image cannot kill a
    // 100 TB decode stage.
    CatalogEntry("q118_image_decode", (s, d) => {
      val ids = t(s, d, "documents").select($"doc_id")
        .filter($"doc_id" < 40).collect().map(_.getLong(0)).sorted
      def png(id: Long): Array[Byte] = {
        val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          def ch(c: Int) = ((id * 31 + c * 7 + y * w + x) % 256).toInt
          img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val rows = ids.toSeq.map(i => (i, png(i))) ++ Seq(
        (9001L, png(1L).take(16)),
        (9002L, "not an image".getBytes("UTF-8")),
        (9003L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      operators.Multimodal.channelSums(
          operators.Multimodal.decodeImages(media, "payload"), "pixels")
        .select($"media_id", $"img_width".as("width"),
          $"img_height".as("height"), $"img_channels".as("channels"),
          element_at($"ch_sums", 1).as("r_sum"),
          element_at($"ch_sums", 2).as("g_sum"),
          element_at($"ch_sums", 3).as("b_sum"))
        .orderBy($"media_id")
    }, Some(
      // the pixel-ramp arithmetic and channel sums replayed in SQL —
      // a lossless codec means the decoded bytes ARE the formula; the
      // three corrupt ids must come back as explicit null rows
      """WITH m AS (SELECT doc_id AS media_id,
           CAST(8 + doc_id % 5 AS INT) AS w,
           CAST(6 + doc_id % 4 AS INT) AS h
         FROM documents WHERE doc_id < 40),
         px AS (SELECT media_id, w, h, y.y AS y, x.x AS x
           FROM m,
             LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y,
             LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x),
         sums AS (SELECT media_id, w, h,
             CAST(sum((media_id * 31 + 0  + y * w + x) % 256) AS BIGINT)
               AS r_sum,
             CAST(sum((media_id * 31 + 7  + y * w + x) % 256) AS BIGINT)
               AS g_sum,
             CAST(sum((media_id * 31 + 14 + y * w + x) % 256) AS BIGINT)
               AS b_sum
           FROM px GROUP BY 1, 2, 3)
         SELECT media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
           r_sum, g_sum, b_sum
         FROM sums
         UNION ALL
         SELECT CAST(media_id AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL
         FROM (VALUES (9001), (9002), (9003)) t(media_id)
         ORDER BY media_id""")),

    // Image near-dup END TO END from real bytes — the LAION-style
    // dedup a 100 TB multimodal pipeline runs: planted grayscale
    // images (pixel = (src·31 + x·17 + y·29 + x·y + shift) mod 256)
    // are container-encoded driver-side as PNG, pixel-identical BMP
    // and GIF re-encodes, and +4-brightness PNG variants; the engine
    // decodes the bytes (q118's codec boundary), perceptual-hashes
    // the raw buffers (integer-exact dHash gradient signs + aHash
    // mean bits over nearest-neighbor luma grids), and Hamming-bands
    // the 64-bit signatures into verified near-dup pairs (pigeonhole
    // bands — exact recall at the threshold). A byte-level hash sees
    // FOUR different files per image; the perceptual pipeline must
    // see one. The oracle replays pixels from the formula, both hash
    // constructions bit-for-bit and the exhaustive pairwise Hamming
    // truth in SQL — lossless decode means a drift anywhere (decode,
    // luma weights, grid index math, bit packing, banding recall)
    // breaks hash values or the pair stats. Corrupt payloads ride
    // through as null-hash rows that never enter a band.
    CatalogEntry("q124_image_phash_dedup", (s, d) => {
      val W = 16; val H = 12
      def v(src: Long, x: Int, y: Int, shift: Int): Int =
        ((src * 31 + x * 17 + y * 29 + x.toLong * y + shift) % 256).toInt
      val cmap = (0 until 256)
        .map(g => (0xFF << 24) | (g << 16) | (g << 8) | g).toArray
      val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0,
        false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
      def enc(src: Long, shift: Int, fmt: String): Array[Byte] = {
        // GIF needs the indexed gray palette for a lossless
        // round-trip (the q122 fixture discipline); PNG/BMP take RGB
        val img =
          if (fmt == "gif") {
            val im = new java.awt.image.BufferedImage(W, H,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            for (y <- 0 until H; x <- 0 until W)
              im.getRaster.setSample(x, y, 0, v(src, x, y, shift))
            im
          } else {
            val im = new java.awt.image.BufferedImage(W, H,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            for (y <- 0 until H; x <- 0 until W) {
              val g = v(src, x, y, shift)
              im.setRGB(x, y, (g << 16) | (g << 8) | g)
            }
            im
          }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, bos)
        bos.toByteArray
      }
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 10L).map(i => (i, enc(i, 0, "png"))) ++
        (1L to 10L).map(i => (100L + i, enc(i, 0, "bmp"))) ++
        (1L to 3L).map(i => (200L + i, enc(i, 0, "gif"))) ++
        (1L to 5L).map(i => (300L + i, enc(i, 4, "png"))) ++
        Seq((9001L, enc(1L, 0, "png").take(20)),
          (9002L, "not an image".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      val sigs = operators.Multimodal.perceptualHashes(
          operators.Multimodal.decodeImages(media, "payload"),
          "pixels", "img_width", "img_height")
        .select($"media_id", $"dhash", $"ahash")
      val pairs = operators.Dedup.hammingNearDups(sigs, "media_id",
        "dhash", maxHamming = 6)
      val partnered = pairs.select($"a".as("media_id"), $"b".as("partner"))
        .unionByName(pairs.select($"b".as("media_id"), $"a".as("partner")))
      val stats = partnered.groupBy($"media_id")
        .agg(count(lit(1)).as("n_pairs"), min($"partner").as("top_partner"))
      sigs.join(stats, Seq("media_id"), "left")
        .select($"media_id", $"dhash", $"ahash",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"), $"top_partner")
        .orderBy($"media_id")
    }, Some(
      // pixels from the planted formula, both perceptual-hash
      // constructions (luma grids, integer div index math, gradient /
      // mean bit packing — bit 63 spelled as the signed MIN to dodge
      // DuckDB's shift-overflow guard), and the exhaustive pairwise
      // Hamming truth with per-image pair stats — replayed entirely in
      // SQL against the lossless decode contract
      """WITH imgs AS (
           SELECT i AS media_id, i AS src, 0 AS shift FROM range(1, 11) t(i)
           UNION ALL SELECT 100 + i, i, 0 FROM range(1, 11) t(i)
           UNION ALL SELECT 200 + i, i, 0 FROM range(1, 4) t(i)
           UNION ALL SELECT 300 + i, i, 4 FROM range(1, 6) t(i)),
         dg AS (
           SELECT media_id, gy, gx,
             (src*31 + (gx*16//9)*17 + (gy*12//8)*29
               + (gx*16//9)*(gy*12//8) + shift) % 256 AS v
           FROM imgs, range(0, 8) t1(gy), range(0, 9) t2(gx)),
         dh AS (
           SELECT a.media_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS dhash
           FROM dg a JOIN dg b ON a.media_id = b.media_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8
           GROUP BY a.media_id),
         ag AS (
           SELECT media_id, gy, gx,
             (src*31 + (gx*16//8)*17 + (gy*12//8)*29
               + (gx*16//8)*(gy*12//8) + shift) % 256 AS v
           FROM imgs, range(0, 8) t1(gy), range(0, 8) t2(gx)),
         am AS (SELECT media_id, sum(v) // 64 AS mean FROM ag GROUP BY media_id),
         ah AS (
           SELECT ag.media_id,
             bit_or(CASE WHEN ag.v >= am.mean THEN
                 CASE WHEN ag.gy*8 + ag.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (ag.gy*8 + ag.gx) END
               ELSE 0::BIGINT END) AS ahash
           FROM ag JOIN am ON ag.media_id = am.media_id
           GROUP BY ag.media_id),
         sigs AS (
           SELECT i.media_id, dh.dhash, ah.ahash
           FROM imgs i JOIN dh ON dh.media_id = i.media_id
             JOIN ah ON ah.media_id = i.media_id
           UNION ALL
           SELECT media_id, NULL, NULL
           FROM (VALUES (9001), (9002), (9003)) t(media_id)),
         pairs AS (
           SELECT a.media_id AS a, b.media_id AS b,
             bit_count(xor(a.dhash, b.dhash)) AS hamming
           FROM sigs a JOIN sigs b ON a.media_id < b.media_id
           WHERE a.dhash IS NOT NULL AND b.dhash IS NOT NULL
             AND bit_count(xor(a.dhash, b.dhash)) <= 6),
         partnered AS (
           SELECT a AS media_id, b AS partner FROM pairs
           UNION ALL SELECT b, a FROM pairs),
         stats AS (
           SELECT media_id, count(*) AS n_pairs, min(partner) AS top_partner
           FROM partnered GROUP BY media_id)
         SELECT s.media_id, s.dhash, s.ahash,
           coalesce(st.n_pairs, 0)::BIGINT AS n_pairs, st.top_partner
         FROM sigs s LEFT JOIN stats st ON st.media_id = s.media_id
         ORDER BY s.media_id""")),

    // The MULTIMODAL rung of the streaming ingestion ladder: images
    // arrive as BYTES on the stream, decode + perceptual-hash as
    // stateless codec ops in-flight, and admit/reject against a
    // static accepted corpus via maxHamming+1 broadcast band joins —
    // recall-EXACT at the threshold by pigeonhole (unlike the IVF
    // rung there is no probe-miss caveat), so the streamed decision
    // must equal the batch hammingNearDups decision bit-for-bit. The
    // reference signatures are derived through the REAL decode path
    // (PNG corpus → decodeImages → dHash); arrivals mix BMP
    // re-encodes of accepted images (reject at hamming 0 — the
    // cross-container duplicate no byte hash can see), brightness
    // variants (reject within threshold), novel images (admit) and
    // corrupt payloads (null signature → admit, membership
    // unprovable). The oracle replays both sides' pixel formulas,
    // the dHash construction and the exhaustive argmin decision.
    CatalogEntry("q126_stream_image_admission", (s, d) => {
      val refSigs = refSignatures(s, 10)
      val members = operators.Dedup.hammingBandMembers(refSigs,
        "media_id", "dhash", maxHamming = 6)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val whole = refImage(1L, 0, "png")
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 5L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
        (1L to 5L).map(i => (510L + i, refImage(i, 4, "png"))) ++
        (21L to 25L).map(i => (500L + i, refImage(i, 0, "png"))) ++
        Seq((9001L, whole.take(20)),
          (9002L, "not an image".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val stream = mediaStream(s, rows, "q126_stream")
      val hashed = operators.Multimodal.perceptualHashes(
        operators.Multimodal.decodeImages(stream, "payload"),
        "pixels", "img_width", "img_height")
      val admitted = streaming.StreamingParse.hammingAdmissionStream(
        hashed, "media_id", "dhash", members, maxHamming = 6)
      val out = runStreamToTable(s, admitted, "append", "image_admission")
        .select($"media_id", $"dhash", $"admitted", $"match_id",
          $"match_hamming")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // both sides' planted pixel formulas, the dHash construction and
      // the exhaustive argmin (hamming, ref_id) admission decision
      // replayed in SQL; corrupt arrivals come back as admitted
      // null-signature rows
      ("WITH " + dhashArrivalsSql(26) + """
           UNION ALL SELECT media_id, NULL
           FROM (VALUES (9001), (9002), (9003)) t(media_id)),
         best AS (
           SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id) AS match_id,
             min(bit_count(xor(s.dhash, r.sig))) AS match_hamming
           FROM sigs s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6
           WHERE s.dhash IS NOT NULL
           GROUP BY s.media_id)
         SELECT s.media_id, s.dhash, b.match_id IS NULL AS admitted,
           b.match_id, b.match_hamming::INTEGER AS match_hamming
         FROM sigs s LEFT JOIN best b ON b.media_id = s.media_id
         ORDER BY s.media_id"""))),

    // DEAD-LETTER QUARANTINE for a streaming codec ingest — the
    // multi-sink pattern every 100 TB pipeline runs at its decode
    // boundary, done as ONE routed pass (foreachBatch: the micro-batch
    // persists once, healthy rows flow through the admission transform
    // into the main table, corrupt rows land VERBATIM in the
    // quarantine with a DETERMINISTIC reason — null_payload /
    // empty_payload / undecodable, derived from the row itself, never
    // an exception message). Until now corrupt payloads null-admitted
    // silently; here they leave the healthy path entirely and keep
    // their forensics. Arrivals: BMP re-encodes of accepted PNGs
    // (decode ok → reject at hamming 0), novel PNGs (decode ok →
    // admit), garbage bytes / zero bytes / null payload (each to
    // quarantine under its own reason). The oracle replays the pixel
    // formulas, the dHash grid, the argmin admission AND the reason
    // classification.
    CatalogEntry("q142_stream_quarantine", (s, d) => {
      val (members, dir) = quarantineFixture(s, "q142")
      def healthy(b: DataFrame): DataFrame =
        streaming.StreamingParse.hammingAdmissionStream(b, "media_id",
            "dhash", members, maxHamming = 6)
          .select($"media_id", $"dhash", $"admitted", $"match_id")
      // hard-reset both sinks: the gate must be re-runnable in-session
      // (Bench runs it twice) and across JVMs (stale managed location)
      Seq("q142_main", "q142_quarantine").foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        sources.Sinks.dropStaleManagedLocation(members, tbl)
      }
      val sch = s.read.parquet(s"$dir/in").schema
      streaming.StreamingParse.quarantineStream(
        decodeWithStatus(s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")),
        "decode_status", healthy, "q142_main", "q142_quarantine")
      members.unpersist()
      s.table("q142_main")
        .select($"media_id", lit("main").as("routed"), $"dhash",
          $"admitted", $"match_id",
          lit(null).cast("string").as("reason"))
        .unionByName(s.table("q142_quarantine")
          .select($"media_id", lit("quarantine").as("routed"),
            lit(null).cast("long").as("dhash"),
            lit(null).cast("boolean").as("admitted"),
            lit(null).cast("long").as("match_id"),
            $"decode_status".as("reason")))
        .orderBy($"media_id")
    }, Some(
      // pixel formulas → dHash grid → argmin admission for the healthy
      // route; explicit VALUES rows with the deterministic reason
      // classification for the quarantined route
      quarantineOracleSql)),

    // EXACTLY-ONCE output for the dead-letter ingest — q142's routing
    // under a SIMULATED CRASH-REDELIVERY: the same decode→route split
    // runs through quarantineStreamIdempotent (batch_id-partitioned
    // dynamic overwrite instead of blind appends), then the gate
    // replays the LAST batch verbatim — same rows, same batch id,
    // exactly what the checkpoint re-delivers after a crash between
    // the two sink writes — by calling the public per-batch body
    // directly. Under q142's documented at-least-once appends the
    // replay would DUPLICATE every row of that batch (and the
    // oracle's row counts would catch it); under the dynamic
    // partition overwrite the batch rewrites its own partition
    // byte-for-byte and every other batch is untouched, so the final
    // output equals the no-crash run exactly. Oracle: q142's full
    // pixel→dHash→argmin + reason-classification replay, row counts
    // binding.
    CatalogEntry("q146_stream_idempotent_sink", (s, d) => {
      val (members, dir) = quarantineFixture(s, "q146")
      def healthy(b: DataFrame): DataFrame =
        streaming.StreamingParse.hammingAdmissionStream(b, "media_id",
            "dhash", members, maxHamming = 6)
          .select($"media_id", $"dhash", $"admitted", $"match_id")
      val mainPath = s"$dir/main"; val qPath = s"$dir/quarantine"
      val sch = s.read.parquet(s"$dir/in").schema
      streaming.StreamingParse.quarantineStreamIdempotent(
        decodeWithStatus(s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")),
        "decode_status", healthy, mainPath, qPath)
      // the crash-redelivery: the LAST batch arrives AGAIN with the
      // same id and the same rows (reconstructed exactly from the
      // batch's own committed output — media ids are unique)
      val lastBatch = s.read.parquet(mainPath).select($"batch_id")
        .unionByName(s.read.parquet(qPath).select($"batch_id"))
        .agg(max($"batch_id".cast("long"))).collect()(0).getLong(0)
      val replayIds = s.read.parquet(mainPath)
        .filter($"batch_id".cast("long") === lastBatch)
        .select($"media_id")
        .unionByName(s.read.parquet(qPath)
          .filter($"batch_id".cast("long") === lastBatch)
          .select($"media_id"))
      val replayRows = s.read.parquet(s"$dir/in")
        .join(broadcast(replayIds), Seq("media_id"), "left_semi")
      streaming.StreamingParse.applyQuarantineBatchIdempotent(
        decodeWithStatus(replayRows), lastBatch, "decode_status", healthy,
        mainPath, qPath)
      members.unpersist()
      s.read.parquet(mainPath)
        .select($"media_id", lit("main").as("routed"), $"dhash",
          $"admitted", $"match_id",
          lit(null).cast("string").as("reason"))
        .unionByName(s.read.parquet(qPath)
          .select($"media_id", lit("quarantine").as("routed"),
            lit(null).cast("long").as("dhash"),
            lit(null).cast("boolean").as("admitted"),
            lit(null).cast("long").as("match_id"),
            $"decode_status".as("reason")))
        .orderBy($"media_id")
    }, Some(
      // q146: q142's replay verbatim — the idempotent sink under a
      // simulated crash-redelivery must produce EXACTLY the no-crash
      // output (an append sink would duplicate the replayed batch's
      // rows, breaking the oracle's row counts)
      quarantineOracleSql)),

    // Image RESIZE as a VALUE gate — the feature-prep verb between
    // decode and any fixed-input model stage, done nearest-neighbor
    // with floor sampling so every output byte is integer-exact and
    // the WHOLE resized buffer is pinned: the gate folds the resized
    // bytes into a position-weighted checksum + plain sum via pure
    // SQL byte extraction (hex of each 1-byte substring), and the
    // oracle regenerates both from the planted pixel formula and the
    // same integer sampling rule ((x*srcW)//outW). A corrupt payload
    // follows the corrupt-row discipline: null dims, null checksum,
    // never a task failure.
    CatalogEntry("q143_image_resize", (s, d) => {
      val media = s.createDataFrame(
          (1L to 6L).map(i => (i, refImage(i, 0, "png"))) :+
            ((9001L, "not an image".getBytes("UTF-8"))))
        .toDF("media_id", "payload")
      val byteAt = "CAST(conv(hex(substring(resized, i, 1)), 16, 10) " +
        "AS BIGINT)"
      operators.Multimodal.resizeImages(
          operators.Multimodal.decodeImages(media, "payload"),
          "pixels", "img_width", "img_height", outW = 7, outH = 5)
        .select($"media_id", $"resized_width", $"resized_height",
          expr("aggregate(sequence(1, length(resized)), 0L, " +
            s"(a, i) -> a + $byteAt * i)").as("checksum"),
          expr("aggregate(sequence(1, length(resized)), 0L, " +
            s"(a, i) -> a + $byteAt)").as("total"))
        .orderBy($"media_id")
    }, Some(
      // the full text→vector→admission chain replayed with
      // integer-exact sparse dots: tokenize → md5 bucket/sign → sparse
      // vectors for BOTH corpora → cosine vs every accepted doc →
      // max-(cosine, smaller-id) decision at tau (nProbe = nCells, so
      // the streamed probe equals the brute-force rule); empty/null
      // arrivals are explicit admit rows
      // the planted pixel formula sampled through the SAME integer
      // floor rule ((x*16)//7, (y*12)//5), every byte position-weighted
      // — one disagreeing output byte anywhere in the resized buffer
      // breaks the checksum
      """WITH media AS (SELECT i AS media_id, i AS src FROM range(1, 7) t(i)),
         px AS (
           SELECT media_id,
             (src*31 + ((x*16)//7)*(11 + src % 7) + ((y*12)//5)*29
               + ((x*16)//7)*((y*12)//5)*(1 + src % 3)) % 256 AS v,
             ((y*7 + x)*3 + c) + 1 AS pos
           FROM media, range(0, 5) ty(y), range(0, 7) tx(x),
             range(0, 3) tc(c))
         SELECT media_id, 7::INTEGER AS resized_width,
           5::INTEGER AS resized_height,
           sum(v * pos)::BIGINT AS checksum, sum(v)::BIGINT AS total
         FROM px GROUP BY media_id
         UNION ALL
         SELECT 9001, NULL, NULL, NULL, NULL
         ORDER BY media_id""")),

    // The IMAGE bytes→vector bridge (imageEmbed — the tiny-image luma
    // thumbnail as an array<double>) through the BATCH vector tier:
    // where the Hamming rung (q124) answers "re-encode within radius
    // h?", the cosine rung RANKS look-alikes and composes with every
    // vector operator. Strata: BMP re-encodes of reference PNGs embed
    // IDENTICALLY (cosine exactly 1 — the codec boundary is lossless
    // on these pixels, pinned by q118) and reject; integer
    // gain-scaled copies ((9·v) div 10 per pixel — floor noise only)
    // still reject near 1; novel-formula images sit in the
    // positive-luma cosine floor (≈0.75 — raw luma grids never
    // decorrelate to 0) well under tau and admit; corrupt and null
    // payloads embed null and admit. The oracle replays pixel
    // formula → ITU-601 luma (= v on gray pixels) → the 8×8 sample
    // lattice → integer-exact dots → the argmax tie rule → the tau
    // decision.
    CatalogEntry("q148_image_embed_neardup", (s, d) => {
      def embed(df: DataFrame): DataFrame =
        operators.Multimodal.imageEmbed(
          operators.Multimodal.decodeImages(df, "payload"),
          "pixels", "img_width", "img_height")
      val refs = s.createDataFrame((1L to 10L).map(i =>
          (i, refImage(i, 0, "png"))))
        .toDF("media_id", "payload")
      val refEmb = embed(refs).select($"media_id", $"img_embedding")
      val arrivals = s.createDataFrame(
          (1L to 5L).map(i => (500L + i,
            refImage(i, 0, "bmp"))) ++
          (1L to 5L).map(i => (510L + i,
            grayImage((x, y) => 9 * refPixel(i, x, y) / 10, "png"))) ++
          (1L to 3L).map(i => (520L + i,
            grayImage(novelPixel(i, _, _), "png"))) ++
          Seq((9001L, "not an image".getBytes("UTF-8")),
            (9002L, null.asInstanceOf[Array[Byte]])))
        .toDF("media_id", "payload")
      val arrEmb = embed(arrivals).select($"media_id", $"img_embedding")
      val top1 = operators.Similarity.bruteForceTopK(refEmb,
          arrEmb.filter($"img_embedding".isNotNull),
          "media_id", "img_embedding", k = 1)
        .filter($"rank" === 1)
      arrEmb.select($"media_id")
        .join(top1.select($"query_id".as("media_id"), $"neighbor_id",
          $"cosine"), Seq("media_id"), "left")
        .select($"media_id",
          coalesce($"cosine" < 0.9, lit(true)).as("admitted"),
          when($"cosine" >= 0.9, $"neighbor_id").as("match_id"))
        .orderBy($"media_id")
    }, Some(
      // q148: pixel formulas → gray luma (= v) → the 8×8 embed lattice
      // → integer-exact dots → cosine argmax (ties to the smaller ref)
      // → the tau decision; corrupt/null payloads are explicit admit
      // rows. q149 runs the SAME oracle against the streamed IVF route.
      imageEmbedOracleSql)),

    // The IMAGE modality's semantic admission rung IN FLIGHT — q138's
    // composition with imageEmbed in hashEmbed's seat, completing the
    // "every modality reaches the vector tier, streaming" story:
    // image bytes arrive on the stream, decode and embed per row
    // (both pure codec-boundary ops), and admit/reject against an IVF
    // of the embedded reference corpus through annAdmissionStream's
    // broadcast probe joins. Same strata and SAME ORACLE as q148 —
    // nProbe equals nCells, so the streamed IVF decision must equal
    // the batch brute-force rule decision-for-decision, pinning the
    // two routes against each other; corrupt/null payloads embed null
    // and ADMIT through the zero-probe path (never a crash, never a
    // false reject).
    CatalogEntry("q149_stream_image_semantic", (s, d) => {
      def embed(df: DataFrame): DataFrame =
        operators.Multimodal.imageEmbed(
          operators.Multimodal.decodeImages(df, "payload"),
          "pixels", "img_width", "img_height")
      val refs = s.createDataFrame((1L to 10L).map(i =>
          (i, refImage(i, 0, "png"))))
        .toDF("media_id", "payload")
      val refEmb = embed(refs).select($"media_id", $"img_embedding")
      val index = operators.Similarity.buildIvf(refEmb, "media_id",
        "img_embedding", nCells = 2, lloydIters = 1)
      val members = operators.Similarity.cellMembers(index)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val arrivals: Seq[(Long, Array[Byte])] =
        (1L to 5L).map(i => (500L + i,
          refImage(i, 0, "bmp"))) ++
        (1L to 5L).map(i => (510L + i,
          grayImage((x, y) => 9 * refPixel(i, x, y) / 10, "png"))) ++
        (1L to 3L).map(i => (520L + i,
          grayImage(novelPixel(i, _, _), "png"))) ++
        Seq((9001L, "not an image".getBytes("UTF-8")),
          (9002L, null.asInstanceOf[Array[Byte]]))
      val stream = mediaStream(s, arrivals, "q149_stream")
      val admitted = streaming.StreamingParse.annAdmissionStream(
        embed(stream), "media_id", "img_embedding", index, members,
        tau = 0.9, nProbe = 2)
      val out = runStreamToTable(s, admitted, "append", "image_semantic")
        .select($"media_id", $"admitted", $"match_id")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // q149: identical decisions through the streamed IVF route
      // (nProbe = nCells — the probe IS the brute-force rule)
      imageEmbedOracleSql)),

    // The composed MEDIA admission cascade — q147's multimodal twin,
    // in ONE stateless stream pass: dead_letter (decodeStatus) →
    // perceptual (dHash Hamming bands, recall-exact by pigeonhole) →
    // semantic (imageEmbed cosine vs the IVF members), first-reject
    // precedence, per-tier pointers, ONE decode feeding both signal
    // tiers. The two reference sets deliberately DIFFER — the
    // perceptual window holds refs 1–6, the vector corpus refs 1–10 —
    // so exact copies of refs 7–9 sail through the Hamming tier and
    // land `semantic` at cosine 1.0 (the stratum only the vector tier
    // can catch), while BMP re-encodes and brightness shifts of refs
    // 1–3 land `perceptual` at hamming 0 (what no byte hash sees),
    // corrupt payloads land `dead_letter` WITH their forensic reason
    // (they carry null signatures/vectors, so the signal tiers could
    // never have rejected them), and novel images admit. nCells=2 +
    // nProbe=2 keeps the probe exhaustive so the oracle's brute force
    // replays the served argmax exactly (both pixel formulas, the
    // 9×8 gradient grid, the 8×8 embed lattice, the min/argmax folds
    // and the precedence, all in SQL).
    CatalogEntry("q159_media_cascade_stream", (s, d) => {
      val refPrep = mediaPrep(s.createDataFrame((1L to 10L).map(i =>
          (i, refImage(i, 0, "png")))).toDF("media_id", "payload"))
      val hamMembers = operators.Dedup.hammingBandMembers(
        refPrep.filter($"media_id" <= 6).select($"media_id", $"dhash"),
        "media_id", "dhash", maxHamming = 6)
      hamMembers.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val index = operators.Similarity.buildIvf(
        refPrep.select($"media_id", $"img_embedding"), "media_id",
        "img_embedding", nCells = 2, lloydIters = 1)
      val members = operators.Similarity.cellMembers(index)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val stream = mediaStream(s, mediaCascadeArrivals, "q159_stream")
      val out = streaming.StreamingParse.mediaAdmissionCascadeStream(
        mediaPrep(stream), "media_id", "decode_status", "dhash", hamMembers,
        maxHamming = 6, "img_embedding", index, members, tau = 0.9,
        nProbe = 2)
      val res = runStreamToTable(s, out, "append", "media_cascade")
        .select($"media_id", $"cascade_admitted", $"reason",
          $"perceptual_match_id", $"perceptual_hamming",
          $"semantic_match_id")
        .orderBy($"media_id")
      hamMembers.unpersist(); members.unpersist()
      res
    }, Some(
      // q159: the media cascade replayed tier by tier — both planted
      // pixel formulas, the 9×8 gradient dHash construction, the
      // pigeonhole argmin vs the refs-1..6 perceptual window, the 8×8
      // embed lattice cosine argmax vs the refs-1..10 vector corpus,
      // the deterministic dead-letter statuses, and the first-reject
      // precedence with per-tier pointers
      (mediaCascadeDhashSql + """
           FROM ag a JOIN ag b ON a.media_id = b.media_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.media_id),
         per AS (SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id)
               AS pmid,
             min(bit_count(xor(s.dhash, r.sig))) AS pham
           FROM ah s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6
           GROUP BY s.media_id),
         """ + mediaCascadeEmbedSql + """
         sem AS (SELECT media_id, ref_id AS smid, cosv FROM (
             SELECT media_id, ref_id, cosv, row_number() OVER
               (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
             FROM cosr) WHERE rk = 1),
         allm AS (
           SELECT media_id, 'ok' AS status FROM arr
           UNION ALL SELECT media_id, status
           FROM (VALUES (9001, 'undecodable'), (9002, 'null_payload'),
             (9003, 'empty_payload')) t(media_id, status)),
         decided AS (SELECT m.media_id,
             CASE WHEN m.status != 'ok' THEN 'dead_letter'
                  WHEN p.media_id IS NOT NULL THEN 'perceptual'
                  WHEN s.cosv >= 0.9 THEN 'semantic' END AS reason,
             p.pmid, p.pham, s.smid
           FROM allm m
           LEFT JOIN per p ON p.media_id = m.media_id
           LEFT JOIN sem s ON s.media_id = m.media_id)
         SELECT media_id, reason IS NULL AS cascade_admitted, reason,
           CASE WHEN reason = 'perceptual' THEN pmid END
             AS perceptual_match_id,
           (CASE WHEN reason = 'perceptual' THEN pham END)::INTEGER
             AS perceptual_hamming,
           CASE WHEN reason = 'semantic' THEN smid END
             AS semantic_match_id
         FROM decided ORDER BY media_id"""))),

    // q159's media cascade grown the q158 treatment — the foreachBatch
    // twin over DURABLE takedown-aware faces (applyMediaCascadeBatch):
    // the one-pass shape captures its reference sets at plan time,
    // so a takedown needs a restart; here the perceptual tier reopens
    // the rooted members table (+ its tombstone ledger) and the
    // semantic tier the bucketed IVF (+ its ledger) per micro-batch.
    // Two decision worlds: ref 2 (in BOTH faces) and ref 8 (vector
    // corpus only) are taken down between the passes, and the very
    // next pass must flip exactly their dependents — the bmp
    // re-encode and brightness shift of ref 2 lose their perceptual
    // match, ref 8's verbatim copy loses its cosine-1.0 source — with
    // every surviving decision byte-identical. The oracle replays
    // both worlds' full pixel math (the 9×8 gradient dHash, the 8×8
    // embed lattice, argmin/argmax tie-breaks, precedence) in SQL.
    CatalogEntry("q167_media_cascade_batched", (s, d) => {
      val refPrep = mediaPrep(s.createDataFrame((1L to 10L).map(i =>
          (i, refImage(i, 0, "png")))).toDF("media_id", "payload"))
      sources.Generations.clearLedger(s, "q167_ham_tombstones")
      sources.Generations.clearLedger(s, "q167_ivf_tombstones")
      // independent faces: build concurrently (guide §2.6)
      sources.Sinks.inParallel(
        () => operators.Dedup.writeHammingMembers(s,
          operators.Dedup.hammingBandMembers(
            refPrep.filter($"media_id" <= 6)
              .select($"media_id", $"dhash"),
            "media_id", "dhash", maxHamming = 6), "q167_ham"),
        () => operators.Similarity.writeIvfIndexBucketed(
          operators.Similarity.buildIvf(
            refPrep.select($"media_id", $"img_embedding"), "media_id",
            "img_embedding", nCells = 2, lloydIters = 1), "q167_ivf",
          numBuckets = 2))
      val dir = java.nio.file.Files.createTempDirectory("q167_stream")
      dir.toFile.deleteOnExit()
      s.createDataFrame(mediaCascadeArrivals).toDF("media_id", "payload")
        .repartition(1).write.parquet(s"$dir/in")
      val sch = s.read.parquet(s"$dir/in").schema
      def run(tag: String): DataFrame = {
        val stream = s.readStream.schema(sch).parquet(s"$dir/in")
        streaming.StreamingParse.mediaAdmissionCascadeBatchedStream(
          mediaPrep(stream), "media_id", "decode_status", "dhash",
          membersTable = "q167_ham", maxHamming = 6,
          vecCol = "img_embedding", annPrefix = "q167_ivf", tau = 0.9,
          nProbe = 2, outPath = s"$dir/out_$tag")
        mediaDecisions(s.read.parquet(s"$dir/out_$tag"), tag)
      }
      val pre = run("pre")
      val tomb = s.createDataFrame(Seq(Tuple1(2L), Tuple1(8L)))
        .toDF("media_id")
      sources.Sinks.inParallel(
        () => operators.Dedup.tombstoneHammingMembers(s, "q167_ham", tomb),
        () => operators.Similarity.tombstoneIvf(s, "q167_ivf", tomb,
          "media_id"))
      val live = run("live")
      pre.join(live, Seq("media_id"))
        .select($"media_id", $"admitted_pre", $"reason_pre",
          $"pmid_pre", $"pham_pre", $"smid_pre",
          $"admitted_live", $"reason_live",
          $"pmid_live", $"pham_live", $"smid_live")
        .orderBy($"media_id")
    }, Some(
      // q167: q159's pixel math replayed in TWO decision worlds — the
      // pre world ≡ q159's reference sets, the live world with refs 2
      // (both faces) and 8 (vector corpus) taken down; per-world argmin
      // (hamming, id) and argmax (cosine, id) tie-breaks and the
      // dead_letter → perceptual → semantic precedence
      mediaCascadeTwoWorldOracleSql)),

    // q167's decision contract with the perceptual tier on the
    // RELATIONAL banded-signature index (applyMediaCascadeBatchUnbounded)
    // — the UNBOUNDED perceptual-corpus path: the broadcast members
    // table is the bounded-window tier (arrays, capped buckets,
    // fails open on floods); here the accepted corpus lives as
    // (band, bh, member) rows bucketed on exactly the probe keys, the
    // per-batch probe is one equi-join whose index side reads its
    // bucket layout unshuffled (PlanSpec-pinned), recall stays
    // pigeonhole-exact with NO fail-open cap, and the banding
    // threshold rides the index meta. Same fixture, same thresholds,
    // SAME oracle as q167 — swapping the perceptual face must move no
    // decision; takedowns file against the band ledger instead of the
    // members ledger and flip the same three dependents.
    CatalogEntry("q168_media_cascade_unbounded", (s, d) => {
      val refPrep = mediaPrep(s.createDataFrame((1L to 10L).map(i =>
          (i, refImage(i, 0, "png")))).toDF("media_id", "payload"))
      sources.Generations.clearLedger(s, "q168_band_tombstones")
      sources.Generations.clearLedger(s, "q168_ivf_tombstones")
      // independent faces: build concurrently (guide §2.6)
      sources.Sinks.inParallel(
        () => operators.Dedup.writeHammingBandIndexRooted(s, "q168_band",
          refPrep.filter($"media_id" <= 6).select($"media_id", $"dhash"),
          "media_id", "dhash", maxHamming = 6, numBuckets = 4),
        () => operators.Similarity.writeIvfIndexBucketed(
          operators.Similarity.buildIvf(
            refPrep.select($"media_id", $"img_embedding"), "media_id",
            "img_embedding", nCells = 2, lloydIters = 1), "q168_ivf",
          numBuckets = 2))
      val dir = java.nio.file.Files.createTempDirectory("q168_stream")
      dir.toFile.deleteOnExit()
      s.createDataFrame(mediaCascadeArrivals).toDF("media_id", "payload")
        .repartition(1).write.parquet(s"$dir/in")
      val sch = s.read.parquet(s"$dir/in").schema
      def run(tag: String): DataFrame = {
        val stream = s.readStream.schema(sch).parquet(s"$dir/in")
        streaming.StreamingParse
          .mediaAdmissionCascadeBatchedStreamUnbounded(
            mediaPrep(stream), "media_id", "decode_status", "dhash",
            bandPrefix = "q168_band", vecCol = "img_embedding",
            annPrefix = "q168_ivf", tau = 0.9, nProbe = 2,
            outPath = s"$dir/out_$tag")
        mediaDecisions(s.read.parquet(s"$dir/out_$tag"), tag)
      }
      val pre = run("pre")
      val tomb = s.createDataFrame(Seq(Tuple1(2L), Tuple1(8L)))
        .toDF("media_id")
      sources.Sinks.inParallel(
        () => operators.Dedup.tombstoneHammingBandIndex(s, "q168_band",
          tomb),
        () => operators.Similarity.tombstoneIvf(s, "q168_ivf", tomb,
          "media_id"))
      val live = run("live")
      pre.join(live, Seq("media_id"))
        .select($"media_id", $"admitted_pre", $"reason_pre",
          $"pmid_pre", $"pham_pre", $"smid_pre",
          $"admitted_live", $"reason_live",
          $"pmid_live", $"pham_live", $"smid_live")
        .orderBy($"media_id")
    }, Some(
      // q168: the SAME two-world decision contract with the perceptual
      // tier served by the RELATIONAL banded index — identical oracle
      // by design (pigeonhole recall-exact on both faces, identical
      // argmin/argmax tie-breaks): swapping the perceptual tier's face
      // must move no decision
      mediaCascadeTwoWorldOracleSql)),

    // The DURABLE face of the perceptual admission reference set —
    // q134 proved the logical takedown on an in-memory members table;
    // this drives the full durable lifecycle the way a long-running
    // admission service operates it: the banded members PERSIST
    // (A/B generation + epoch + meta-last), takedowns file through
    // the crash-safe frame ledger, the LIVE read applies them before
    // the table reaches the stream, and compactHammingMembers purges
    // physically (rebuilding the banding from the live table's own
    // distinct signatures — no corpus re-read), flips the generation
    // pointer and clears the ledger. Three stream passes over the
    // same arrivals: the freshly-written full set (pre), the
    // ledger-applied live set, and the post-compaction set — the
    // last two must agree decision-for-decision (logical ≡ physical),
    // and the oracle replays both argmin worlds.
    CatalogEntry("q137_durable_members_lifecycle", (s, d) => {
      val refSigs = refSignatures(s, 10)
      operators.Dedup.writeHammingMembers(s,
        operators.Dedup.hammingBandMembers(refSigs, "media_id", "dhash",
          maxHamming = 6),
        "q137_members")
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 5L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
        (1L to 5L).map(i => (510L + i, refImage(i, 4, "png"))) ++
        (21L to 23L).map(i => (500L + i, refImage(i, 0, "png"))) ++
        Seq((9001L, "not an image".getBytes("UTF-8")))
      val dir = java.nio.file.Files.createTempDirectory("q137_stream")
      dir.toFile.deleteOnExit()
      s.createDataFrame(rows).toDF("media_id", "payload")
        .repartition(4).write.parquet(s"$dir/in")
      val sch = s.read.parquet(s"$dir/in").schema
      def run(m: DataFrame, tag: String): DataFrame = {
        val cached = m.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
        cached.count()
        val stream = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        val hashed = operators.Multimodal.perceptualHashes(
          operators.Multimodal.decodeImages(stream, "payload"),
          "pixels", "img_width", "img_height")
        val res = runStreamToTable(s,
          streaming.StreamingParse.hammingAdmissionStream(
            hashed, "media_id", "dhash", cached, maxHamming = 6),
          "append", s"members_lc_$tag")
          .select($"media_id", $"dhash",
            col("admitted").as(s"admitted_$tag"),
            col("match_id").as(s"match_$tag"))
        val local = s.createDataFrame(
          java.util.Arrays.asList(res.collect(): _*), res.schema)
        cached.unpersist()
        local
      }
      val pre = run(
        operators.Dedup.readHammingMembers(s, "q137_members"), "pre")
      operators.Dedup.tombstoneHammingMembers(s, "q137_members",
        s.createDataFrame(Seq(Tuple1(1L), Tuple1(3L))).toDF("media_id"))
      val live = run(
        operators.Dedup.readHammingMembersLive(s, "q137_members"), "live")
        .drop("dhash")
      operators.Dedup.compactHammingMembers(s, "q137_members",
        maxHamming = 6)
      val comp = run(
        operators.Dedup.readHammingMembers(s, "q137_members"), "post")
        .drop("dhash")
      pre.join(live, Seq("media_id")).join(comp, Seq("media_id"))
        .select($"media_id", $"dhash", $"admitted_pre", $"match_pre",
          $"admitted_live", $"match_live", $"admitted_post",
          $"match_post")
        .orderBy($"media_id")
    }, Some(
      // the q134 replay with THREE decision worlds: the full reference
      // set (pre), and the set minus the tombstoned ids twice — the
      // ledger-applied live table and the post-compaction table must
      // produce the SAME argmin decisions (logical ≡ physical delete)
      ("WITH " + dhashArrivalsSql(24) + """
           UNION ALL SELECT 9001, NULL),
         """ + dhashArgminSql("best_pre", "match_pre") + """,
         """ + dhashArgminSql("best_live", "match_live",
           " AND r.ref_id NOT IN (1, 3)") + """
         SELECT s.media_id, s.dhash,
           bp.match_pre IS NULL AS admitted_pre, bp.match_pre,
           bl.match_live IS NULL AS admitted_live, bl.match_live,
           bl.match_live IS NULL AS admitted_post,
           bl.match_live AS match_post
         FROM sigs s
           LEFT JOIN best_pre bp ON bp.media_id = s.media_id
           LEFT JOIN best_live bl ON bl.media_id = s.media_id
         ORDER BY s.media_id"""))),

    // The MULTIMODAL corpus datasheet — the media face of the text
    // tier's q91 profile / q102 release gates: per-payload container
    // format (magic bytes, DECODER-INDEPENDENT — a WAV payload in an
    // image corpus reads 'wav' even though the image tier rejects
    // it), dead-letter classification, decoded pixel count, and the
    // exact-perceptual dup pointer (smallest media id sharing the
    // dHash — PNG/BMP/GIF re-encodes of identical pixels collapse to
    // one group, the group's first member stays canonical with a
    // null pointer). The oracle replays the magic-byte table, the
    // dims, the planted-formula dHash construction and the min-id
    // group fold.
    CatalogEntry("q155_media_datasheet", (s, d) => {
      def wav(): Array[Byte] = {
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true, false)
        val pcm = Array.tabulate[Byte](200)(i => (i % 100).toByte)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, 100L)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 6L).map(i => (i, refImage(i, 0, "png"))) ++
        (1L to 3L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
        Seq((504L, refImage(1L, 0, "gif")),
          (601L, wav()),
          (9001L, "garbage bytes here".getBytes("UTF-8")),
          (9002L, Array.empty[Byte]),
          (9003L, null.asInstanceOf[Array[Byte]]))
      val media = s.createDataFrame(rows).toDF("media_id", "payload")
        .repartition(3)
      operators.Multimodal.mediaDatasheet(media, "media_id", "payload")
        .select($"media_id", $"format", $"decode_status", $"n_px",
          $"dup_of")
        .orderBy($"media_id")
    }, Some(
      // q155: magic-byte format table + dead-letter classification from
      // planted knowledge; dims from the fixture; dup pointers from the
      // q142 dHash construction over the planted formulas (re-encodes
      // share a src → share a signature; the min-id member is canonical)
      """WITH ok AS (
           SELECT media_id, src, fmt FROM (VALUES
             (1, 1, 'png'), (2, 2, 'png'), (3, 3, 'png'),
             (4, 4, 'png'), (5, 5, 'png'), (6, 6, 'png'),
             (501, 1, 'bmp'), (502, 2, 'bmp'), (503, 3, 'bmp'),
             (504, 1, 'gif')) t(media_id, src, fmt)),
         g AS (
           SELECT media_id, gy, gx,
             (src*31 + (gx*16//9)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//9)*(gy*12//8)*(1 + src % 3)) % 256 AS v
           FROM ok, range(0, 8) t1(gy), range(0, 9) t2(gx)),
         h AS (
           SELECT a.media_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS dhash
           FROM g a JOIN g b ON a.media_id = b.media_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.media_id),
         firsts AS (
           SELECT dhash, count(*) AS n, min(media_id) AS first_id
           FROM h GROUP BY dhash),
         okrows AS (
           SELECT o.media_id, o.fmt AS format, 'ok' AS decode_status,
             192::BIGINT AS n_px,
             CASE WHEN f.n > 1 AND o.media_id <> f.first_id
               THEN f.first_id END AS dup_of
           FROM ok o JOIN h USING (media_id) JOIN firsts f
             ON f.dhash = h.dhash)
         SELECT media_id, format, decode_status, n_px, dup_of
         FROM okrows
         UNION ALL
         SELECT media_id, format, decode_status, NULL, NULL
         FROM (VALUES
           (601, 'wav', 'undecodable'),
           (9001, 'unknown', 'undecodable'),
           (9002, 'empty', 'empty_payload'),
           (9003, 'null', 'null_payload'))
           t(media_id, format, decode_status)
         ORDER BY media_id""")),

    // TAKEDOWN for the perceptual reference corpus — the fourth face
    // of the compliance lifecycle (vector q127, exact q128, near-dup
    // q129), closing the one rung q126 left static: removing accepted
    // reference images must flip their streamed look-alikes
    // reject → admit IMMEDIATELY (logical: the removed ids leave the
    // member arrays via one broadcast array-filter — never a re-hash
    // of the reference corpus), while every other decision holds
    // bit-for-bit. The q126 fixture with refs 1 and 3 tombstoned; the
    // same arrival set (BMP re-encodes, brightness variants, novels,
    // corrupt payloads) streams against the full members PRE and the
    // tombstoned members POST; the oracle replays both sides' pixel
    // formulas, the dHash construction and BOTH exhaustive argmin
    // decisions (vs refs, and vs refs minus the tombstones).
    CatalogEntry("q134_phash_takedown_stream", (s, d) => {
      val refSigs = refSignatures(s, 10)
      val members = operators.Dedup.hammingBandMembers(refSigs,
        "media_id", "dhash", maxHamming = 6)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val live = operators.Dedup.tombstoneFromHammingMembers(members,
        s.createDataFrame(Seq(Tuple1(1L), Tuple1(3L))).toDF("media_id"))
      live.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 5L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
        (1L to 5L).map(i => (510L + i, refImage(i, 4, "png"))) ++
        (21L to 23L).map(i => (500L + i, refImage(i, 0, "png"))) ++
        Seq((9001L, "not an image".getBytes("UTF-8")),
          (9002L, Array.empty[Byte]))
      val dir = java.nio.file.Files.createTempDirectory("q134_stream")
      dir.toFile.deleteOnExit()
      s.createDataFrame(rows).toDF("media_id", "payload")
        .repartition(4).write.parquet(s"$dir/in")
      val sch = s.read.parquet(s"$dir/in").schema
      def run(m: DataFrame, tag: String): DataFrame = {
        val stream = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        val hashed = operators.Multimodal.perceptualHashes(
          operators.Multimodal.decodeImages(stream, "payload"),
          "pixels", "img_width", "img_height")
        runStreamToTable(s,
          streaming.StreamingParse.hammingAdmissionStream(
            hashed, "media_id", "dhash", m, maxHamming = 6),
          "append", s"phash_td_$tag")
          .select($"media_id", $"dhash",
            col("admitted").as(s"admitted_$tag"),
            col("match_id").as(s"match_$tag"))
      }
      val pre = run(members, "pre")
      val post = run(live, "post").drop("dhash")
      val out = pre.join(post, Seq("media_id"))
        .select($"media_id", $"dhash", $"admitted_pre", $"match_pre",
          $"admitted_post", $"match_post")
        .orderBy($"media_id")
      val materialized = s.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
      members.unpersist(); live.unpersist()
      materialized
    }, Some(
      // both sides' pixel formulas and dHash constructions replayed,
      // then BOTH exhaustive argmin admission decisions — against the
      // full reference set (pre) and against the set minus the
      // tombstoned ids (post); corrupt arrivals are admitted
      // null-signature rows in both worlds
      ("WITH " + dhashArrivalsSql(24) + """
           UNION ALL SELECT media_id, NULL
           FROM (VALUES (9001), (9002)) t(media_id)),
         """ + dhashArgminSql("best_pre", "match_pre") + """,
         """ + dhashArgminSql("best_post", "match_post",
           " AND r.ref_id NOT IN (1, 3)") + """
         SELECT s.media_id, s.dhash,
           bp.match_pre IS NULL AS admitted_pre, bp.match_pre,
           bq.match_post IS NULL AS admitted_post, bq.match_post
         FROM sigs s
           LEFT JOIN best_pre bp ON bp.media_id = s.media_id
           LEFT JOIN best_post bq ON bq.media_id = s.media_id
         ORDER BY s.media_id""")))
  )

  /** A 16x12 gray image of `px(x, y)`, encoded as `fmt`. */
  private def grayImage(px: (Int, Int) => Int, fmt: String): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16) {
      val g = px(x, y)
      im.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  /** The reference images' pixel formula: source `src`, brightness
    * `shift`. */
  private def refPixel(src: Long, x: Int, y: Int, shift: Int = 0): Int =
    ((src * 31 + x * (11 + src % 7) + y * 29 +
      x.toLong * y * (1 + src % 3) + shift) % 256).toInt

  /** The novel images' pixel formula, far from every reference. */
  private def novelPixel(src: Long, x: Int, y: Int): Int =
    ((src * 53 + x * 29 + y * 7 + x.toLong * y * 2 + 101) % 256).toInt

  /** Reference image `src` at brightness `shift`, encoded as `fmt`. */
  private def refImage(src: Long, shift: Int, fmt: String): Array[Byte] =
    grayImage(refPixel(src, _, _, shift), fmt)

  /** Decode image payloads, sign them (dHash) and classify each row's
    * decode status: the dead-letter ingests' per-row codec step. */
  private def decodeWithStatus(df: DataFrame): DataFrame =
    operators.Multimodal.perceptualHashes(
        operators.Multimodal.decodeImages(df, "payload"),
        "pixels", "img_width", "img_height")
      .withColumn("decode_status",
        operators.Multimodal.decodeStatus($"payload", $"img_width"))

  /** The dHash signatures of planted reference PNGs 1..`n`, through
    * the real decode path ([[refDhashSql]] replays them). */
  private def refSignatures(s: SparkSession, n: Long): DataFrame =
    operators.Multimodal.perceptualHashes(
        operators.Multimodal.decodeImages(s.createDataFrame(
            (1L to n).map(i => (i, refImage(i, 0, "png"))))
          .toDF("media_id", "payload"), "payload"),
        "pixels", "img_width", "img_height")
      .select($"media_id", $"dhash")

  /** The dead-letter ingests' fixture (q142, q146): Hamming members of
    * 8 reference PNGs (persisted), and a fresh `tag` directory whose
    * `in` holds BMP re-encodes of refs 1-3, novel PNGs 21-22 and the
    * garbage / empty / null payloads in 3 files. */
  private def quarantineFixture(
      s: SparkSession, tag: String): (DataFrame, java.nio.file.Path) = {
    val members = operators.Dedup.hammingBandMembers(refSignatures(s, 8),
      "media_id", "dhash", maxHamming = 6)
    members.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK).count()
    val rows: Seq[(Long, Array[Byte])] =
      (1L to 3L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
      (21L to 22L).map(i => (500L + i, refImage(i, 0, "png"))) ++
      Seq((9001L, "definitely not an image".getBytes("UTF-8")),
        (9002L, Array.empty[Byte]),
        (9003L, null.asInstanceOf[Array[Byte]]))
    val dir = java.nio.file.Files.createTempDirectory(s"${tag}_stream")
    dir.toFile.deleteOnExit()
    s.createDataFrame(rows).toDF("media_id", "payload")
      .repartition(3).write.parquet(s"$dir/in")
    (members, dir)
  }

  /** Decode, dHash, embed and status-classify image payloads: the
    * media cascades' per-row codec step (q159, q167, q168). */
  private def mediaPrep(df: DataFrame): DataFrame = {
    val sig = operators.Multimodal.perceptualHashes(
      operators.Multimodal.decodeImages(df, "payload"),
      "pixels", "img_width", "img_height")
    operators.Multimodal.imageEmbed(sig, "pixels", "img_width",
        "img_height")
      .withColumn("decode_status",
        operators.Multimodal.decodeStatus($"payload", $"img_width"))
  }

  /** The media cascades' arrivals: BMP re-encodes and brightness
    * shifts of refs 1-3, verbatim copies of refs 7-9, novel images,
    * and the garbage / null / empty payloads. */
  private def mediaCascadeArrivals: Seq[(Long, Array[Byte])] =
    (1L to 3L).map(i => (500L + i, refImage(i, 0, "bmp"))) ++
    (1L to 3L).map(i => (510L + i, refImage(i, 4, "png"))) ++
    (7L to 9L).map(i => (520L + i, refImage(i, 0, "png"))) ++
    (1L to 3L).map(i => (530L + i,
      grayImage(novelPixel(i, _, _), "png"))) ++
    Seq((9001L, "not an image".getBytes("UTF-8")),
      (9002L, null.asInstanceOf[Array[Byte]]),
      (9003L, Array.empty[Byte]))

  /** A media cascade run's decision columns, suffixed with `tag`. */
  private def mediaDecisions(out: DataFrame, tag: String): DataFrame =
    localCopy(out.select($"media_id",
      col("cascade_admitted").as(s"admitted_$tag"),
      col("reason").as(s"reason_$tag"),
      col("perceptual_match_id").as(s"pmid_$tag"),
      col("perceptual_hamming").as(s"pham_$tag"),
      col("semantic_match_id").as(s"smid_$tag")))

  /** The dead-letter ingest oracle (q142 appends, q146 idempotent
    * sink): argmin dHash admission for the healthy route and the
    * deterministic reason rows for the quarantined one. */
  private def quarantineOracleSql: String =
    """WITH refs AS (
           SELECT i AS ref_id, i AS src, 0 AS shift FROM range(1, 9) t(i)),
         arrivals AS (
           SELECT 500 + i AS media_id, i AS src, 0 AS shift FROM range(1, 4) t(i)
           UNION ALL SELECT 500 + i, i, 0 FROM range(21, 23) t(i)),
         """ + refDhashSql + """
         best AS (
           SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id)
               AS match_id
           FROM ah s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6
           GROUP BY s.media_id)
         SELECT a.media_id, 'main' AS routed, a.dhash,
           b.match_id IS NULL AS admitted, b.match_id,
           NULL::VARCHAR AS reason
         FROM ah a LEFT JOIN best b USING (media_id)
         UNION ALL
         SELECT media_id, 'quarantine', NULL::BIGINT, NULL::BOOLEAN,
           NULL::BIGINT, reason
         FROM (VALUES (9001, 'undecodable'), (9002, 'empty_payload'),
           (9003, 'null_payload')) t(media_id, reason)
         ORDER BY media_id"""

  /** The media cascades' perceptual inputs (q159, q167, q168): the
    * planted refs and arrival strata, the refs-1..6 dHash window (rh)
    * and the arrivals' dHash (ah), both pixel formulas on the 9x8
    * gradient grid. */
  private def mediaCascadeDhashSql: String =
    """WITH refs AS (SELECT i AS ref_id, i AS src, 0 AS shift
           FROM range(1, 11) t(i)),
         arr AS (
           SELECT 500 + i AS media_id, i AS src, 0 AS shift,
             'sig' AS kind FROM range(1, 4) t(i)
           UNION ALL SELECT 510 + i, i, 4, 'sig' FROM range(1, 4) t(i)
           UNION ALL SELECT 520 + i, i, 0, 'sig' FROM range(7, 10) t(i)
           UNION ALL SELECT 530 + i, i, 0, 'novel' FROM range(1, 4) t(i)),
         rg AS (SELECT ref_id, gy, gx,
             (src*31 + (gx*16//9)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//9)*(gy*12//8)*(1 + src % 3) + shift) % 256 AS v
           FROM refs, range(0, 8) t1(gy), range(0, 9) t2(gx)
           WHERE ref_id <= 6),
         rh AS (SELECT a.ref_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS sig
           FROM rg a JOIN rg b ON a.ref_id = b.ref_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.ref_id),
         ag AS (SELECT media_id, gy, gx,
             CASE WHEN kind = 'novel' THEN
               (src*53 + (gx*16//9)*29 + (gy*12//8)*7
                 + (gx*16//9)*(gy*12//8)*2 + 101) % 256
             ELSE
               (src*31 + (gx*16//9)*(11 + src % 7) + (gy*12//8)*29
                 + (gx*16//9)*(gy*12//8)*(1 + src % 3) + shift) % 256
             END AS v
           FROM arr, range(0, 8) t1(gy), range(0, 9) t2(gx)),
         ah AS (SELECT a.media_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS dhash"""

  /** The media cascades' vector tier (q159, q167, q168): both pixel
    * formulas on the 8x8 embed lattice, integer-exact dots and cosine
    * norms (the caller ranks cosr). */
  private def mediaCascadeEmbedSql: String =
    """re AS (SELECT ref_id, gy*8 + gx AS i,
             (src*31 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//8)*(gy*12//8)*(1 + src % 3) + shift) % 256 AS v
           FROM refs, range(0, 8) a(gy), range(0, 8) b(gx)),
         ae AS (SELECT media_id, gy*8 + gx AS i,
             CASE WHEN kind = 'novel' THEN
               (src*53 + (gx*16//8)*29 + (gy*12//8)*7
                 + (gx*16//8)*(gy*12//8)*2 + 101) % 256
             ELSE
               (src*31 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*29
                 + (gx*16//8)*(gy*12//8)*(1 + src % 3) + shift) % 256
             END AS v
           FROM arr, range(0, 8) a(gy), range(0, 8) b(gx)),
         dots AS (SELECT a.media_id, r.ref_id, sum(a.v * r.v) AS dp
           FROM ae a JOIN re r ON a.i = r.i GROUP BY 1, 2),
         an AS (SELECT media_id, sqrt(sum(v*v)) AS n FROM ae GROUP BY 1),
         rn2 AS (SELECT ref_id, sqrt(sum(v*v)) AS n FROM re GROUP BY 1),
         cosr AS (SELECT d.media_id, d.ref_id, d.dp / (an.n * rn2.n) AS cosv
           FROM dots d JOIN an USING (media_id) JOIN rn2 USING (ref_id)),"""

  /** Both sides of the dHash admission oracles (q126, q134, q137,
    * q142, q146): the planted pixel formula on the 9x8 gradient grid
    * and the packed row-gradient bits of every ref (`rh.sig`) and every
    * arrival (`ah.dhash`). */
  private def refDhashSql: String =
    """rg AS (
           SELECT ref_id, gy, gx,
             (src*31 + (gx*16//9)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//9)*(gy*12//8)*(1 + src % 3) + shift) % 256 AS v
           FROM refs, range(0, 8) t1(gy), range(0, 9) t2(gx)),
         rh AS (
           SELECT a.ref_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS sig
           FROM rg a JOIN rg b ON a.ref_id = b.ref_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.ref_id),
         ag AS (
           SELECT media_id, gy, gx,
             (src*31 + (gx*16//9)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//9)*(gy*12//8)*(1 + src % 3) + shift) % 256 AS v
           FROM arrivals, range(0, 8) t1(gy), range(0, 9) t2(gx)),
         ah AS (
           SELECT a.media_id,
             bit_or(CASE WHEN b.v > a.v THEN
                 CASE WHEN a.gy*8 + a.gx = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << (a.gy*8 + a.gx) END
               ELSE 0::BIGINT END) AS dhash
           FROM ag a JOIN ag b ON a.media_id = b.media_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.media_id),"""

  /** The image-embedding oracle (q148 batch, q149 streamed): pixel
    * formulas, gray luma (= v), the 8x8 embed lattice, integer-exact
    * dots, cosine argmax (ties to the smaller ref) and tau 0.9; corrupt
    * and null payloads admit. */
  private def imageEmbedOracleSql: String =
    """WITH refs AS (SELECT i AS ref_id, i AS src FROM range(1, 11) t(i)),
         arr AS (
           SELECT 500 + i AS media_id, i AS src, 'copy' AS kind
           FROM range(1, 6) t(i)
           UNION ALL SELECT 510 + i, i, 'gain' FROM range(1, 6) t(i)
           UNION ALL SELECT 520 + i, i, 'novel' FROM range(1, 4) t(i)),
         rg AS (SELECT ref_id, gy*8 + gx AS i,
             (src*31 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*29
               + (gx*16//8)*(gy*12//8)*(1 + src % 3)) % 256 AS v
           FROM refs, range(0, 8) a(gy), range(0, 8) b(gx)),
         ag AS (SELECT media_id, gy*8 + gx AS i,
             CASE kind
               WHEN 'novel' THEN (src*53 + (gx*16//8)*29 + (gy*12//8)*7
                 + (gx*16//8)*(gy*12//8)*2 + 101) % 256
               WHEN 'gain' THEN (9 * ((src*31 + (gx*16//8)*(11 + src % 7)
                 + (gy*12//8)*29
                 + (gx*16//8)*(gy*12//8)*(1 + src % 3)) % 256)) // 10
               ELSE (src*31 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*29
                 + (gx*16//8)*(gy*12//8)*(1 + src % 3)) % 256
             END AS v
           FROM arr, range(0, 8) a(gy), range(0, 8) b(gx)),
         dots AS (SELECT a.media_id, r.ref_id, sum(a.v * r.v) AS dp
           FROM ag a JOIN rg r ON a.i = r.i GROUP BY 1, 2),
         an AS (SELECT media_id, sqrt(sum(v*v)) AS n FROM ag GROUP BY 1),
         rn AS (SELECT ref_id, sqrt(sum(v*v)) AS n FROM rg GROUP BY 1),
         cosr AS (SELECT d.media_id, d.ref_id, d.dp / (an.n * rn.n) AS cosv
           FROM dots d JOIN an USING (media_id) JOIN rn USING (ref_id)),
         best AS (SELECT media_id, ref_id, cosv FROM (
           SELECT media_id, ref_id, cosv, row_number() OVER
             (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
           FROM cosr) WHERE rk = 1)
         SELECT m.media_id,
           coalesce(b.cosv < 0.9, TRUE) AS admitted,
           CASE WHEN b.cosv >= 0.9 THEN b.ref_id END AS match_id
         FROM (SELECT media_id FROM arr
               UNION ALL SELECT 9001 UNION ALL SELECT 9002) m
         LEFT JOIN best b USING (media_id)
         ORDER BY media_id"""

  /** q167/q168's shared two-world media-cascade oracle (the q74
    * identical-decision-contract discipline): both gates run the same
    * fixture and thresholds; only the perceptual tier's FACE differs
    * (broadcast members vs relational banded index), and both faces
    * are pigeonhole recall-exact with the same (hamming, id) argmin —
    * so one oracle pins that the swap moves no decision. */
  private def mediaCascadeTwoWorldOracleSql: String =
      mediaCascadeDhashSql + """
           FROM ag a JOIN ag b ON a.media_id = b.media_id
             AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8 GROUP BY a.media_id),
         per_pre AS (SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id)
               AS pmid,
             min(bit_count(xor(s.dhash, r.sig))) AS pham
           FROM ah s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6
           GROUP BY s.media_id),
         per_live AS (SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id)
               AS pmid,
             min(bit_count(xor(s.dhash, r.sig))) AS pham
           FROM ah s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6
             AND r.ref_id NOT IN (2, 8)
           GROUP BY s.media_id),
         """ + mediaCascadeEmbedSql + """
         sem_pre AS (SELECT media_id, ref_id AS smid, cosv FROM (
             SELECT media_id, ref_id, cosv, row_number() OVER
               (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
             FROM cosr) WHERE rk = 1),
         sem_live AS (SELECT media_id, ref_id AS smid, cosv FROM (
             SELECT media_id, ref_id, cosv, row_number() OVER
               (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
             FROM cosr WHERE ref_id NOT IN (2, 8)) WHERE rk = 1),
         allm AS (
           SELECT media_id, 'ok' AS status FROM arr
           UNION ALL SELECT media_id, status
           FROM (VALUES (9001, 'undecodable'), (9002, 'null_payload'),
             (9003, 'empty_payload')) t(media_id, status)),
         decided AS (SELECT m.media_id,
             CASE WHEN m.status != 'ok' THEN 'dead_letter'
                  WHEN pp.media_id IS NOT NULL THEN 'perceptual'
                  WHEN sp.cosv >= 0.9 THEN 'semantic' END AS reason_pre,
             pp.pmid AS pmid_pre, pp.pham AS pham_pre,
             sp.smid AS smid_pre,
             CASE WHEN m.status != 'ok' THEN 'dead_letter'
                  WHEN pl.media_id IS NOT NULL THEN 'perceptual'
                  WHEN sl.cosv >= 0.9 THEN 'semantic' END AS reason_live,
             pl.pmid AS pmid_live, pl.pham AS pham_live,
             sl.smid AS smid_live
           FROM allm m
           LEFT JOIN per_pre pp ON pp.media_id = m.media_id
           LEFT JOIN per_live pl ON pl.media_id = m.media_id
           LEFT JOIN sem_pre sp ON sp.media_id = m.media_id
           LEFT JOIN sem_live sl ON sl.media_id = m.media_id)
         SELECT media_id,
           reason_pre IS NULL AS admitted_pre, reason_pre,
           CASE WHEN reason_pre = 'perceptual' THEN pmid_pre END
             AS pmid_pre,
           (CASE WHEN reason_pre = 'perceptual' THEN pham_pre
             END)::INTEGER AS pham_pre,
           CASE WHEN reason_pre = 'semantic' THEN smid_pre END
             AS smid_pre,
           reason_live IS NULL AS admitted_live, reason_live,
           CASE WHEN reason_live = 'perceptual' THEN pmid_live END
             AS pmid_live,
           (CASE WHEN reason_live = 'perceptual' THEN pham_live
             END)::INTEGER AS pham_live,
           CASE WHEN reason_live = 'semantic' THEN smid_live END
             AS smid_live
         FROM decided ORDER BY media_id"""

  /** The dHash admission argmin: each arrival signature's nearest
    * reference within Hamming 6 (`rh`, optionally narrowed by `and`),
    * ties to the lower ref_id, as CTE `name` with column `matched`. */
  private def dhashArgminSql(name: String, matched: String,
                             and: String = ""): String =
    s"""$name AS (
           SELECT s.media_id,
             min_by(r.ref_id,
               bit_count(xor(s.dhash, r.sig))::BIGINT * 1000 + r.ref_id)
               AS $matched
           FROM sigs s JOIN rh r ON bit_count(xor(s.dhash, r.sig)) <= 6$and
           WHERE s.dhash IS NOT NULL
           GROUP BY s.media_id)"""

  /** The dHash admission replays' worlds: the ten planted PNG refs;
    * arrivals 501-505 (their BMP re-encodes), 511-515 (brightness
    * variants) and the novel images 21 until `novelEnd` (ids +500);
    * their signatures ([[refDhashSql]]); then the opening of `sigs`. */
  private def dhashArrivalsSql(novelEnd: Int): String =
    s"""refs AS (
           SELECT i AS ref_id, i AS src, 0 AS shift FROM range(1, 11) t(i)),
         arrivals AS (
           SELECT 500 + i AS media_id, i AS src, 0 AS shift FROM range(1, 6) t(i)
           UNION ALL SELECT 510 + i, i, 4 FROM range(1, 6) t(i)
           UNION ALL SELECT 500 + i, i, 0 FROM range(21, $novelEnd) t(i)),
         """ + refDhashSql + """
         sigs AS (
           SELECT media_id, dhash FROM ah"""
}
