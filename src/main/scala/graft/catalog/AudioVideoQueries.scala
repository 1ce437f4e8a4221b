package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Fixtures._

/** Audio and video gates: decode, fingerprint and embedding dedup,
  * and their admission streams. */
object AudioVideoQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // REAL audio decode through the multimodal codec boundary — the
    // WAV sibling of q118: deterministic sample-ramp 16-bit PCM WAVs
    // (mixed mono/stereo, three sample rates) are container-encoded
    // driver-side by javax.sound.sampled, decoded back inside
    // mapPartitions, and feature-extracted to per-channel signed
    // sample sums. PCM is lossless, so the decoded samples must
    // reproduce the generator formula exactly — which is what lets
    // DuckDB oracle an audio codec it cannot run: it replays the ramp
    // ((id·37 + ch·11 + i·13) mod 4096 − 2048) and the channel sums
    // in SQL. Planted corrupt payloads (frame-misaligned truncation,
    // non-audio bytes, empty) must survive as null rows.
    CatalogEntry("q119_audio_decode", (s, d) => {
      val ids = t(s, d, "documents").select($"doc_id")
        .filter($"doc_id" < 40).collect().map(_.getLong(0)).sorted
      def wav(id: Long): Array[Byte] = {
        val rate = (8000 + (id % 3) * 4000).toInt
        val channels = (1 + id % 2).toInt
        val frames = (50 + (id % 7) * 10).toInt
        val pcm = new Array[Byte](frames * channels * 2)
        for (i <- 0 until frames; ch <- 0 until channels) {
          val v = ((id * 37 + ch * 11 + i * 13) % 4096 - 2048).toInt
          val base = (i * channels + ch) * 2
          pcm(base) = (v & 0xFF).toByte
          pcm(base + 1) = ((v >> 8) & 0xFF).toByte
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, channels, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val whole = wav(2L) // mono → 2-byte frames; −3 breaks alignment
      val rows = ids.toSeq.map(i => (i, wav(i))) ++ Seq(
        (9001L, whole.take(whole.length - 3)),
        (9002L, "not audio at all".getBytes("UTF-8")),
        (9003L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      operators.Multimodal.pcmChannelSums(
          operators.Multimodal.decodeWav(media, "payload"),
          "pcm", "au_channels")
        .select($"media_id", $"au_rate".as("rate"),
          $"au_channels".as("channels"), $"au_frames".as("frames"),
          element_at($"sample_sums", 1).as("s0_sum"),
          when($"au_channels" === 2, element_at($"sample_sums", 2))
            .as("s1_sum"))
        .orderBy($"media_id")
    }, Some(
      // the sample-ramp arithmetic and signed channel sums replayed in
      // SQL — a lossless PCM container means the decoded samples ARE
      // the formula; mono rows carry a null second-channel sum and the
      // three corrupt ids must come back as explicit null rows
      """WITH m AS (SELECT doc_id AS media_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(50 + (doc_id % 7) * 10 AS INT) AS frames
         FROM documents WHERE doc_id < 40),
         s AS (SELECT media_id, rate, channels, frames, i.i AS i
           FROM m,
             LATERAL (SELECT unnest(generate_series(0, frames - 1)) AS i) i),
         sums AS (SELECT media_id, rate, channels, frames,
             CAST(sum((media_id * 37 + i * 13) % 4096 - 2048) AS BIGINT)
               AS s0_sum,
             CAST(sum(CASE WHEN channels = 2
               THEN (media_id * 37 + 11 + i * 13) % 4096 - 2048 END) AS BIGINT)
               AS s1_sum
           FROM s GROUP BY 1, 2, 3, 4)
         SELECT media_id, rate, channels, frames, s0_sum, s1_sum FROM sums
         UNION ALL
         SELECT CAST(media_id AS BIGINT), NULL, NULL, NULL, NULL, NULL
         FROM (VALUES (9001), (9002), (9003)) t(media_id)
         ORDER BY media_id""")),

    // REAL multi-frame ("video") decode through the codec boundary:
    // animated GIFs with an EXPLICIT 256-gray palette (GIF is
    // palette-indexed, so a grayscale ramp survives the codec
    // byte-exact where truecolor would quantize) are encoded
    // driver-side frame by frame, exploded back to one row per frame
    // by the ImageReader loop, and feature-extracted per frame. The
    // oracle replays the per-frame ramp ((id·31 + f·17 + y·w + x)
    // mod 256) and the equal-by-construction R/G/B channel sums in
    // SQL. A GIF truncated after its first complete frame must yield
    // ONE null row — all-or-nothing, no silent short video.
    CatalogEntry("q122_frame_decode", (s, d) => {
      val ids = t(s, d, "documents").select($"doc_id")
        .filter($"doc_id" < 12).collect().map(_.getLong(0)).sorted
      val cmap = (0 until 256)
        .map(v => (0xFF << 24) | (v << 16) | (v << 8) | v).toArray
      val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0,
        false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
      def gif(id: Long): Array[Byte] = {
        val w = (6 + id % 4).toInt; val h = (5 + id % 3).toInt
        val nf = (2 + id % 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        for (f <- 0 until nf) {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          for (y <- 0 until h; x <- 0 until w)
            img.getRaster.setSample(x, y, 0,
              ((id * 31 + f * 17 + y * w + x) % 256).toInt)
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence(); writer.dispose(); ios.close()
        bos.toByteArray
      }
      val anim = gif(1L)
      val rows = ids.toSeq.map(i => (i, gif(i))) ++ Seq(
        (9001L, anim.take(anim.length * 3 / 5)), // dies mid-frame
        (9002L, anim.dropRight(2)), // clean cut: prefix decodes, but
                                    // the missing 0x3B trailer refuses
        (9003L, "not a video".getBytes("UTF-8")),
        (9004L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      operators.Multimodal.channelSums(
          operators.Multimodal.decodeFrames(media, "payload"),
          "frame_pixels")
        .select($"media_id", $"frame_no",
          $"frame_w".as("width"), $"frame_h".as("height"),
          $"frame_channels".as("channels"),
          element_at($"ch_sums", 1).as("r_sum"),
          element_at($"ch_sums", 2).as("g_sum"),
          element_at($"ch_sums", 3).as("b_sum"))
        .orderBy($"media_id", $"frame_no")
    }, Some(
      // the per-frame grayscale ramp and its (equal by construction)
      // R/G/B channel sums replayed in SQL — the explicit 256-gray
      // palette makes the GIF codec lossless, so the decoded bytes ARE
      // the formula; all four corrupt ids (mid-frame cut, clean cut
      // missing the trailer, non-video bytes, empty) must come back as
      // single explicit null rows
      """WITH m AS (SELECT doc_id AS media_id,
           CAST(6 + doc_id % 4 AS INT) AS w,
           CAST(5 + doc_id % 3 AS INT) AS h,
           CAST(2 + doc_id % 3 AS INT) AS nf
         FROM documents WHERE doc_id < 12),
         fr AS (SELECT media_id, w, h, f.f AS frame_no
           FROM m,
             LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f),
         px AS (SELECT media_id, w, h, frame_no, y.y AS y, x.x AS x
           FROM fr,
             LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y,
             LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x),
         sums AS (SELECT media_id, frame_no, w, h,
             CAST(sum((media_id * 31 + frame_no * 17 + y * w + x) % 256)
               AS BIGINT) AS s
           FROM px GROUP BY 1, 2, 3, 4)
         SELECT media_id, CAST(frame_no AS INT) AS frame_no,
           w AS width, h AS height, CAST(3 AS INT) AS channels,
           s AS r_sum, s AS g_sum, s AS b_sum
         FROM sums
         UNION ALL
         SELECT CAST(media_id AS BIGINT), NULL, NULL, NULL, NULL,
           NULL, NULL, NULL
         FROM (VALUES (9001), (9002), (9003), (9004)) t(media_id)
         ORDER BY media_id, frame_no""")),

    // The VIDEO bytes→vector bridge (videoEmbed — per-frame tiny-image
    // lattices SUM-pooled across frames) through the batch vector
    // tier, completing the modality × vector-tier MATRIX (text q130,
    // image q148, audio q150, video here; each also has its Hamming
    // face). Sum pooling keeps the chain integer-exact; cosine RANKS
    // where the vsig majority vote (q133) thresholds: brightness
    // re-renders land ≈0.9999 (additive shift, not exactly 1 — unlike
    // the dHash face, which is blind to it), first-frame-dropped
    // copies ≈0.9996 (one frame's share of the sum), novel videos
    // ≤0.902 — tau 0.98 splits with margin on BOTH sides (measured,
    // and the oracle recomputes every value exactly). Torn, garbage
    // and empty payloads embed null and admit.
    CatalogEntry("q153_video_embed_neardup", (s, d) => {
      def embed(df: DataFrame): DataFrame =
        operators.Multimodal.videoEmbed(df, "payload")
      val refs = s.createDataFrame((1L to 6L).map(i =>
          (i, grayGif(i, 0, dropFirst = false))))
        .toDF("media_id", "payload")
      val refEmb = embed(refs).select($"media_id", $"video_embedding")
      val whole = grayGif(1L, 0, dropFirst = false)
      val arrivals: Seq[(Long, Array[Byte])] =
        (1L to 3L).map(i => (500L + i, grayGif(i, 4, dropFirst = false))) ++
        (1L to 3L).map(i => (510L + i, grayGif(i, 0, dropFirst = true))) ++
        (21L to 23L).map(i => (500L + i, grayGif(i, 0, dropFirst = false))) ++
        Seq((9001L, whole.take(whole.length * 3 / 5)),
          (9002L, "not a video".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val arrEmb = embed(s.createDataFrame(arrivals)
          .toDF("media_id", "payload"))
        .select($"media_id", $"video_embedding")
      val top1 = operators.Similarity.bruteForceTopK(refEmb,
          arrEmb.filter($"video_embedding".isNotNull),
          "media_id", "video_embedding", k = 1)
        .filter($"rank" === 1)
      arrEmb.select($"media_id")
        .join(top1.select($"query_id".as("media_id"), $"neighbor_id",
          $"cosine"), Seq("media_id"), "left")
        .select($"media_id",
          coalesce($"cosine" < 0.98, lit(true)).as("admitted"),
          when($"cosine" >= 0.98, $"neighbor_id").as("match_id"))
        .orderBy($"media_id")
    }, Some(
      videoEmbedOracleSql)),

    // The VIDEO modality's semantic admission rung IN FLIGHT — the
    // final cell of the streaming cosine matrix (text q138, image
    // q149, audio q151, video here): multi-frame payloads arrive as
    // bytes, the WHOLE temporal chain (decode every frame, per-frame
    // lattice, sum-pool) runs as ONE per-row codec op (videoEmbed —
    // stream-legal by the q136 argument), and admission rides the
    // same annAdmissionStream broadcast probes. Same strata and SAME
    // ORACLE as q153 — nProbe = nCells pins the streamed probe to the
    // batch brute-force rule; torn/garbage/empty payloads embed null
    // and ADMIT.
    CatalogEntry("q154_stream_video_semantic", (s, d) => {
      val refs = s.createDataFrame((1L to 6L).map(i =>
          (i, grayGif(i, 0, dropFirst = false))))
        .toDF("media_id", "payload")
      val refEmb = operators.Multimodal.videoEmbed(refs, "payload")
        .select($"media_id", $"video_embedding")
      val index = operators.Similarity.buildIvf(refEmb, "media_id",
        "video_embedding", nCells = 2, lloydIters = 1)
      val members = operators.Similarity.cellMembers(index)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val whole = grayGif(1L, 0, dropFirst = false)
      val arrivals: Seq[(Long, Array[Byte])] =
        (1L to 3L).map(i => (500L + i, grayGif(i, 4, dropFirst = false))) ++
        (1L to 3L).map(i => (510L + i, grayGif(i, 0, dropFirst = true))) ++
        (21L to 23L).map(i => (500L + i, grayGif(i, 0, dropFirst = false))) ++
        Seq((9001L, whole.take(whole.length * 3 / 5)),
          (9002L, "not a video".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val stream = mediaStream(s, arrivals, "q154_stream")
      val admitted = streaming.StreamingParse.annAdmissionStream(
        operators.Multimodal.videoEmbed(stream, "payload"), "media_id",
        "video_embedding", index, members, tau = 0.98, nProbe = 2)
      val out = runStreamToTable(s, admitted, "append", "video_semantic")
        .select($"media_id", $"admitted", $"match_id")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // q153: per-frame pixel formulas → the 8×8 lattice → sum-pool
      // across frames (all integer sums) → cosine argmax + tau 0.98;
      // the first-frame-dropped stratum drops f = 0 from its sum, the
      // brightness stratum adds the shift inside every frame's term;
      // torn/garbage/empty payloads are explicit admit rows
      // q154: identical decisions through the streamed IVF route
      // (nProbe = nCells — the probe IS the brute-force rule)
      videoEmbedOracleSql)),

    // The AUDIO bytes→vector bridge (audioEmbed — the 64-window
    // energy envelope as array<double>) through the batch vector
    // tier, completing the cosine rung across ALL THREE modalities
    // (text q130/q138, image q148/q149, audio here). The star
    // property: gain-invariance comes out EXACT — a 2× gain scales
    // every window energy by 4 uniformly and cosine is scale-free, so
    // the gained copies reject at cosine exactly 1 alongside the
    // container re-encodes (where the Hamming fingerprint q125 needed
    // its gradient-sign trick for the same robustness). Novel clips
    // sit in the positive-energy cosine floor under tau and admit;
    // truncated/garbage payloads decode null and a too-short clip
    // (fewer frames than windows) embeds null — all admit, never
    // crash. The fixture keeps samples small (±63) so every window
    // energy, dot and norm is integer-exact in doubles on BOTH
    // engines — the oracle replays the PCM formula, the channel mix,
    // the k·frames div 64 window spans, and the cosine argmax + tau.
    CatalogEntry("q150_audio_embed_neardup", (s, d) => {
      val WAVE = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val AIFF = javax.sound.sampled.AudioFileFormat.Type.AIFF
      def chOf(i: Long): Int = if (i <= 4) 1 else 2
      val whole = pcmClip(128L, 2L, 1, 200, 1, WAVE, bigEndian = false)
      val refs = s.createDataFrame((1L to 8L).map(i =>
          (i, pcmClip(128L, i, chOf(i), 200, 1, WAVE, bigEndian = false))))
        .toDF("media_id", "payload")
      val arrivals: Seq[(Long, Array[Byte])] =
        (1L to 4L).map(i => (500L + i,
          pcmClip(128L, i, chOf(i), 200, 1, AIFF, bigEndian = true))) ++
        (5L to 8L).map(i => (510L + i,
          pcmClip(128L, i, 2, 200, 2, WAVE, bigEndian = false))) ++
        (1L to 3L).map(i => (520L + i,
          pcmClip(128L, 20L + i, 1, 200, 1, WAVE, bigEndian = false))) ++
        Seq((9001L, whole.take(whole.length - 3)),
          (9002L, "not audio at all".getBytes("UTF-8")),
          (9003L, pcmClip(128L, 1L, 1, 40, 1, WAVE, bigEndian = false)))
      def embed(df: DataFrame): DataFrame =
        operators.Multimodal.audioEmbed(
          operators.Multimodal.decodeWav(df, "payload"),
          "pcm", "au_channels")
      val refEmb = embed(refs).select($"media_id", $"audio_embedding")
      val arrEmb = embed(s.createDataFrame(arrivals)
          .toDF("media_id", "payload"))
        .select($"media_id", $"audio_embedding")
      val top1 = operators.Similarity.bruteForceTopK(refEmb,
          arrEmb.filter($"audio_embedding".isNotNull),
          "media_id", "audio_embedding", k = 1)
        .filter($"rank" === 1)
      arrEmb.select($"media_id")
        .join(top1.select($"query_id".as("media_id"), $"neighbor_id",
          $"cosine"), Seq("media_id"), "left")
        .select($"media_id",
          coalesce($"cosine" < 0.95, lit(true)).as("admitted"),
          when($"cosine" >= 0.95, $"neighbor_id").as("match_id"))
        .orderBy($"media_id")
    }, Some(
      audioEmbedOracleSql)),

    // The AUDIO modality's semantic admission rung IN FLIGHT — with
    // q138 (text) and q149 (image) this closes the streaming cosine
    // matrix: every modality now has BOTH streaming rungs (Hamming:
    // q126/q132/q136, cosine: q138/q149/here). Audio bytes arrive on
    // the stream, decode and embed per row (decodeWav → audioEmbed,
    // both pure codec-boundary ops), and admit/reject against an IVF
    // of the embedded reference corpus. Same strata and SAME ORACLE
    // as q150 — nProbe = nCells pins the streamed probe to the batch
    // brute-force rule; corrupt, garbage and too-short clips embed
    // null and ADMIT through the zero-probe path.
    CatalogEntry("q151_stream_audio_semantic", (s, d) => {
      val WAVE = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val AIFF = javax.sound.sampled.AudioFileFormat.Type.AIFF
      def chOf(i: Long): Int = if (i <= 4) 1 else 2
      def embed(df: DataFrame): DataFrame =
        operators.Multimodal.audioEmbed(
          operators.Multimodal.decodeWav(df, "payload"),
          "pcm", "au_channels")
      val refs = s.createDataFrame((1L to 8L).map(i =>
          (i, pcmClip(128L, i, chOf(i), 200, 1, WAVE, bigEndian = false))))
        .toDF("media_id", "payload")
      val refEmb = embed(refs).select($"media_id", $"audio_embedding")
      val index = operators.Similarity.buildIvf(refEmb, "media_id",
        "audio_embedding", nCells = 2, lloydIters = 1)
      val members = operators.Similarity.cellMembers(index)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val whole = pcmClip(128L, 2L, 1, 200, 1, WAVE, bigEndian = false)
      val arrivals: Seq[(Long, Array[Byte])] =
        (1L to 4L).map(i => (500L + i,
          pcmClip(128L, i, chOf(i), 200, 1, AIFF, bigEndian = true))) ++
        (5L to 8L).map(i => (510L + i,
          pcmClip(128L, i, 2, 200, 2, WAVE, bigEndian = false))) ++
        (1L to 3L).map(i => (520L + i,
          pcmClip(128L, 20L + i, 1, 200, 1, WAVE, bigEndian = false))) ++
        Seq((9001L, whole.take(whole.length - 3)),
          (9002L, "not audio at all".getBytes("UTF-8")),
          (9003L, pcmClip(128L, 1L, 1, 40, 1, WAVE, bigEndian = false)))
      val stream = mediaStream(s, arrivals, "q151_stream")
      val admitted = streaming.StreamingParse.annAdmissionStream(
        embed(stream), "media_id", "audio_embedding", index, members,
        tau = 0.95, nProbe = 2)
      val out = runStreamToTable(s, admitted, "append", "audio_semantic")
        .select($"media_id", $"admitted", $"match_id")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // q150: PCM formula → channel mix → k·frames div 64 window
      // energies (all integer-exact in doubles — the fixture bounds
      // samples at ±128 so dots stay far under 2^53) → cosine argmax +
      // tau; gained copies land at cosine exactly 1, corrupt/short
      // clips are explicit admit rows
      // q151: identical decisions through the streamed IVF route
      // (nProbe = nCells — the probe IS the brute-force rule)
      audioEmbedOracleSql)),

    // The VIDEO rung of the streaming multimodal admission ladder —
    // completing the modality trio (image q126, audio q132): animated
    // payloads arrive as BYTES on the stream and the WHOLE temporal
    // chain (decode every frame, per-frame dHash, per-bit majority
    // vote) runs as ONE per-row codec op (videoSignatures — every
    // frame originates from one input row, so no frame explode and no
    // relational aggregation is needed; stream-legal by construction
    // and bit-identical to the q133 batch route, whose shared helpers
    // it calls). Admission = the same maxHamming+1 broadcast band
    // joins against a reference corpus signed through the BATCH route
    // — so the gate also pins the two routes against each other:
    // brightness re-renders and first-frame-dropped copies of
    // accepted videos reject at hamming 0, the single-pixel edit
    // rejects within the radius, novel videos and corrupt payloads
    // admit. The oracle replays both sides' pixel formulas, the grid,
    // every gradient comparison, the vote, the packing and the
    // exhaustive argmin decision.
    CatalogEntry("q136_stream_video_admission", (s, d) => {
      val refMedia = s.createDataFrame((1L to 6L).map(i =>
          (i, grayGif(i, 0, dropFirst = false, tweak = false))))
        .toDF("media_id", "payload")
      // the BATCH route signs the reference corpus — the stream side
      // must land identical bits through the per-row route
      val refSigs = operators.Multimodal.videoSignature(
          operators.Multimodal.perceptualHashes(
            operators.Multimodal.decodeFrames(refMedia, "payload"),
            "frame_pixels", "frame_w", "frame_h"),
          "media_id", "dhash")
        .select($"media_id", $"vsig")
      val members = operators.Dedup.hammingBandMembers(refSigs,
        "media_id", "vsig", maxHamming = 6)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val whole = grayGif(1L, 0, dropFirst = false, tweak = false)
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 3L).map(i => (500L + i, grayGif(i, 4, dropFirst = false,
          tweak = false))) ++
        (1L to 3L).map(i => (510L + i, grayGif(i, 0, dropFirst = true,
          tweak = false))) ++
        Seq((521L, grayGif(1L, 0, dropFirst = false, tweak = true))) ++
        (21L to 22L).map(i => (510L + i, grayGif(i, 0, dropFirst = false,
          tweak = false))) ++
        Seq((9001L, whole.take(whole.length * 3 / 5)),
          (9002L, "not a video".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val stream = mediaStream(s, rows, "q136_stream")
      val signed = operators.Multimodal.videoSignatures(stream, "payload")
      val admitted = streaming.StreamingParse.hammingAdmissionStream(
        signed, "media_id", "vsig", members, maxHamming = 6)
      val out = runStreamToTable(s, admitted, "append", "video_admission")
        .select($"media_id", $"n_frames", $"vsig", $"admitted",
          $"match_id", $"match_hamming")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // the q133 temporal replay split into reference and arrival
      // sides, then the exhaustive argmin admission decision at the
      // threshold; corrupt arrivals are admitted null-signature rows
      """WITH media AS (
           SELECT i AS media_id, i AS src, 0 AS bright, 0 AS dropfirst,
             0 AS tweak, 1 AS is_ref FROM range(1, 7) t(i)
           UNION ALL SELECT 500 + i, i, 4, 0, 0, 0 FROM range(1, 4) t(i)
           UNION ALL SELECT 510 + i, i, 0, 1, 0, 0 FROM range(1, 4) t(i)
           UNION ALL SELECT 521, 1, 0, 0, 1, 0
           UNION ALL SELECT 510 + i, i, 0, 0, 0, 0 FROM range(21, 23) t(i)),
         frames AS (
           SELECT m.*, f.f FROM media m, range(0, 8) f(f)
           WHERE NOT (m.dropfirst = 1 AND f.f = 0)),
         grid AS (
           SELECT gx.gx, gy.gy, (gx.gx * 16) // 9 AS sx,
             (gy.gy * 12) // 8 AS sy
           FROM range(0, 9) gx(gx), range(0, 8) gy(gy)),
         lumas AS (
           SELECT fr.media_id, fr.is_ref, fr.f, g.gx, g.gy,
             CASE WHEN fr.tweak = 1 AND g.sx = 3 AND g.sy = 0 THEN 255
               ELSE (CASE WHEN fr.f < 6
                 THEN (fr.src*37 + g.sx*(11 + fr.src % 7) + g.sy*23
                   + g.sx*g.sy*(1 + fr.src % 3)) % 200
                 ELSE (fr.src*53 + g.sx*29 + g.sy*7
                   + g.sx*g.sy*2 + 101) % 200 END) + fr.bright
             END AS v
           FROM frames fr CROSS JOIN grid g),
         comps AS (
           SELECT a.media_id, a.is_ref, a.f, a.gy * 8 + a.gx AS bit,
             CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS vote
           FROM lumas a JOIN lumas b
             ON b.media_id = a.media_id AND b.f = a.f
               AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8),
         votes AS (
           SELECT media_id, is_ref, bit, sum(vote) AS nv, count(*) AS nf
           FROM comps GROUP BY 1, 2, 3),
         vsigs AS (
           SELECT media_id, is_ref,
             bit_or(CASE WHEN nv * 2 > nf THEN
                 CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << bit END
               ELSE 0::BIGINT END) AS vsig,
             max(nf)::BIGINT AS n_frames
           FROM votes GROUP BY media_id, is_ref),
         sigs AS (
           SELECT media_id, n_frames, vsig FROM vsigs WHERE is_ref = 0
           UNION ALL SELECT media_id, NULL, NULL
           FROM (VALUES (9001), (9002), (9003)) t(media_id)),
         best AS (
           SELECT s.media_id,
             min_by(r.media_id,
               bit_count(xor(s.vsig, r.vsig))::BIGINT * 1000 + r.media_id)
               AS match_id,
             min(bit_count(xor(s.vsig, r.vsig))) AS match_hamming
           FROM sigs s JOIN vsigs r
             ON r.is_ref = 1 AND bit_count(xor(s.vsig, r.vsig)) <= 6
           WHERE s.vsig IS NOT NULL
           GROUP BY s.media_id)
         SELECT s.media_id, s.n_frames, s.vsig,
           b.match_id IS NULL AS admitted, b.match_id,
           b.match_hamming::INTEGER AS match_hamming
         FROM sigs s LEFT JOIN best b ON b.media_id = s.media_id
         ORDER BY s.media_id""")),

    // TEMPORAL near-dup for multi-frame media — the video modality's
    // REAL near-dup for the one container the JDK decodes: animated
    // GIFs decode frame-by-frame (decodeFrames), each frame
    // perceptual-hashes (dHash), and the per-bit MAJORITY VOTE over
    // the frame hashes packs into one 64-bit video signature
    // (videoSignature — SimHash over the frame sequence) feeding the
    // same pigeonhole Hamming bands. Planted scene-cut videos (six
    // pattern-A frames, two pattern-B frames): brightness-shifted
    // re-renders collapse at hamming 0 (dHash gradients), FIRST-FRAME-
    // DROPPED copies collapse at hamming 0 through the majority vote
    // (5-of-7 still carries every A bit — the temporal robustness no
    // single-frame hash has), a single-pixel-edited variant lands
    // within the band radius, novel videos stay apart, and corrupt
    // payloads (mid-frame cut / non-video / empty) surface as explicit
    // null-signature rows. The oracle replays pixel formulas, the
    // 9×8 grid sampling, every gradient comparison, the per-bit vote,
    // the bit packing and the exhaustive pairwise Hamming truth.
    CatalogEntry("q133_video_temporal_neardup", (s, d) => {
      val whole = grayGif(1L, 0, dropFirst = false, tweak = false)
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 6L).map(i => (i, grayGif(i, 0, dropFirst = false,
          tweak = false))) ++
        (1L to 3L).map(i => (500L + i, grayGif(i, 4, dropFirst = false,
          tweak = false))) ++
        (1L to 3L).map(i => (510L + i, grayGif(i, 0, dropFirst = true,
          tweak = false))) ++
        Seq((521L, grayGif(1L, 0, dropFirst = false, tweak = true))) ++
        (21L to 22L).map(i => (510L + i, grayGif(i, 0, dropFirst = false,
          tweak = false))) ++
        Seq((9001L, whole.take(whole.length * 3 / 5)),
          (9002L, "not a video".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      val hashed = operators.Multimodal.perceptualHashes(
        operators.Multimodal.decodeFrames(media, "payload"),
        "frame_pixels", "frame_w", "frame_h")
      val vsigs = operators.Multimodal.videoSignature(hashed,
        "media_id", "dhash")
      val pairs = operators.Dedup.hammingNearDups(vsigs, "media_id",
        "vsig", maxHamming = 6)
      val partnered = pairs
        .select($"a".as("media_id"), $"b".as("partner"), $"hamming")
        .unionByName(pairs
          .select($"b".as("media_id"), $"a".as("partner"), $"hamming"))
      val stats = partnered.groupBy($"media_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(struct($"hamming", $"partner")).as("__best"))
      media.select($"media_id").join(vsigs, Seq("media_id"), "left")
        .join(stats, Seq("media_id"), "left")
        .select($"media_id", $"n_frames", $"vsig",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          col("__best").getField("partner").as("top_partner"),
          col("__best").getField("hamming").cast("int")
            .as("top_hamming"))
        .orderBy($"media_id")
    }, Some(
      // the whole temporal chain replayed: planted pixel formulas →
      // 9×8 grid lumas per frame → every dHash gradient comparison →
      // per-bit majority vote over the frame sequence → the packed
      // 64-bit video signature → exhaustive pairwise Hamming truth;
      // corrupt payloads are explicit null-signature rows
      """WITH media AS (
           SELECT i AS media_id, i AS src, 0 AS bright, 0 AS dropfirst,
             0 AS tweak FROM range(1, 7) t(i)
           UNION ALL SELECT 500 + i, i, 4, 0, 0 FROM range(1, 4) t(i)
           UNION ALL SELECT 510 + i, i, 0, 1, 0 FROM range(1, 4) t(i)
           UNION ALL SELECT 521, 1, 0, 0, 1
           UNION ALL SELECT 510 + i, i, 0, 0, 0 FROM range(21, 23) t(i)),
         frames AS (
           SELECT m.*, f.f FROM media m, range(0, 8) f(f)
           WHERE NOT (m.dropfirst = 1 AND f.f = 0)),
         grid AS (
           SELECT gx.gx, gy.gy, (gx.gx * 16) // 9 AS sx,
             (gy.gy * 12) // 8 AS sy
           FROM range(0, 9) gx(gx), range(0, 8) gy(gy)),
         lumas AS (
           SELECT fr.media_id, fr.f, g.gx, g.gy,
             CASE WHEN fr.tweak = 1 AND g.sx = 3 AND g.sy = 0 THEN 255
               ELSE (CASE WHEN fr.f < 6
                 THEN (fr.src*37 + g.sx*(11 + fr.src % 7) + g.sy*23
                   + g.sx*g.sy*(1 + fr.src % 3)) % 200
                 ELSE (fr.src*53 + g.sx*29 + g.sy*7
                   + g.sx*g.sy*2 + 101) % 200 END) + fr.bright
             END AS v
           FROM frames fr CROSS JOIN grid g),
         comps AS (
           SELECT a.media_id, a.f, a.gy * 8 + a.gx AS bit,
             CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS vote
           FROM lumas a JOIN lumas b
             ON b.media_id = a.media_id AND b.f = a.f
               AND b.gy = a.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8),
         votes AS (
           SELECT media_id, bit, sum(vote) AS nv, count(*) AS nf
           FROM comps GROUP BY 1, 2),
         vsigs AS (
           SELECT media_id,
             bit_or(CASE WHEN nv * 2 > nf THEN
                 CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << bit END
               ELSE 0::BIGINT END) AS vsig,
             max(nf)::BIGINT AS n_frames
           FROM votes GROUP BY media_id),
         pairs AS (
           SELECT a.media_id AS a, b.media_id AS b,
             bit_count(xor(a.vsig, b.vsig)) AS hamming
           FROM vsigs a JOIN vsigs b ON a.media_id < b.media_id
           WHERE bit_count(xor(a.vsig, b.vsig)) <= 6),
         partnered AS (
           SELECT a AS media_id, b AS partner, hamming FROM pairs
           UNION ALL SELECT b, a, hamming FROM pairs),
         stats AS (
           SELECT media_id, count(*)::BIGINT AS n_pairs,
             min(hamming) AS mh
           FROM partnered GROUP BY media_id),
         top AS (
           SELECT p.media_id, min(p.partner) AS top_partner,
             s.mh AS top_hamming
           FROM partnered p JOIN stats s
             ON s.media_id = p.media_id AND p.hamming = s.mh
           GROUP BY p.media_id, s.mh),
         allm AS (
           SELECT media_id FROM media
           UNION ALL SELECT media_id
           FROM (VALUES (9001), (9002), (9003)) t(media_id))
         SELECT m.media_id, v.n_frames, v.vsig,
           coalesce(s.n_pairs, 0)::BIGINT AS n_pairs, t.top_partner,
           t.top_hamming::INTEGER AS top_hamming
         FROM allm m LEFT JOIN vsigs v USING (media_id)
           LEFT JOIN stats s USING (media_id)
           LEFT JOIN top t USING (media_id)
         ORDER BY m.media_id""")),

    // The AUDIO rung of the streaming multimodal admission ladder —
    // q126's sibling for sound, closing the r13 "claimed, not gated"
    // gap: clips arrive as BYTES on the stream, decode
    // (javax.sound.sampled) + fingerprint (65-window energy-gradient
    // signs) as stateless codec ops in-flight, and admit/reject
    // against a static accepted corpus via the SAME maxHamming+1
    // broadcast band joins — recall-EXACT by pigeonhole. Arrivals mix
    // AIFF and AU re-encodes of accepted WAV clips (reject at
    // hamming 0 — the cross-container duplicate no byte hash sees),
    // 3×-gain copies (reject at hamming 0 — energy scales by the
    // square, gradient signs unchanged), novel clips (admit), a
    // too-short clip and corrupt payloads (null fingerprint → admit,
    // membership unprovable). The oracle replays both sides' sample
    // formulas, the stereo mixdown, every window energy, the bit
    // packing and the exhaustive argmin decision.
    CatalogEntry("q132_stream_audio_admission", (s, d) => {
      val WAVE = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val AIFF = javax.sound.sampled.AudioFileFormat.Type.AIFF
      val AU = javax.sound.sampled.AudioFileFormat.Type.AU
      def chOf(src: Long): Int = if (src <= 4) 1 else 2
      val refMedia = s.createDataFrame((1L to 8L).map(i =>
          (i, pcmClip(4096L, i, chOf(i), 200, 1, WAVE, bigEndian = false))))
        .toDF("media_id", "payload")
      val refSigs = operators.Multimodal.audioFingerprint(
          operators.Multimodal.decodeWav(refMedia, "payload"),
          "pcm", "au_channels")
        .select($"media_id", $"afp")
      val members = operators.Dedup.hammingBandMembers(refSigs,
        "media_id", "afp", maxHamming = 6)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val whole = pcmClip(4096L, 1L, 1, 200, 1, WAVE, bigEndian = false)
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 4L).map(i => (500L + i, pcmClip(4096L, i, 1, 200, 1, AIFF,
          bigEndian = true))) ++
        (1L to 4L).map(i => (510L + i, pcmClip(4096L, i, 1, 200, 3, WAVE,
          bigEndian = false))) ++
        (21L to 24L).map(i => (500L + i, pcmClip(4096L, i, 1, 200, 1, WAVE,
          bigEndian = false))) ++
        (5L to 6L).map(i => (525L + i, pcmClip(4096L, i, 2, 200, 1, AU,
          bigEndian = true))) ++
        Seq((9001L, whole.take(whole.length - 3)),
          (9002L, "not audio at all".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]),
          (9004L, pcmClip(4096L, 1L, 1, 40, 1, WAVE, bigEndian = false)))
      val stream = mediaStream(s, rows, "q132_stream")
      val fped = operators.Multimodal.audioFingerprint(
        operators.Multimodal.decodeWav(stream, "payload"),
        "pcm", "au_channels")
      val admitted = streaming.StreamingParse.hammingAdmissionStream(
        fped, "media_id", "afp", members, maxHamming = 6)
      val out = runStreamToTable(s, admitted, "append", "audio_admission")
        .select($"media_id", $"afp", $"admitted", $"match_id",
          $"match_hamming")
        .orderBy($"media_id")
      members.unpersist()
      out
    }, Some(
      // both sides of the streamed audio admission replayed: the sample
      // formula (refs AND arrivals — re-encodes and gain copies share a
      // src, novel clips bring their own), stereo mixdown, window
      // energies, bit packing, and the exhaustive (hamming, ref) argmin
      // decision at the threshold; corrupt/short arrivals are explicit
      // null-fingerprint admit rows
      """WITH refs AS (
           SELECT i AS ref_id, i AS src,
             CASE WHEN i <= 4 THEN 1 ELSE 2 END AS ch, 1 AS scale
           FROM range(1, 9) t(i)),
         arrivals AS (
           SELECT 500 + i AS media_id, i AS src, 1 AS ch, 1 AS scale
             FROM range(1, 5) t(i)
           UNION ALL SELECT 510 + i, i, 1, 3 FROM range(1, 5) t(i)
           UNION ALL SELECT 500 + i, i, 1, 1 FROM range(21, 25) t(i)
           UNION ALL SELECT 525 + i, i, 2, 1 FROM range(5, 7) t(i)),
         clips AS (
           SELECT ref_id AS media_id, src, ch, scale, 1 AS is_ref FROM refs
           UNION ALL SELECT media_id, src, ch, scale, 0 FROM arrivals),
         mixes AS (
           SELECT c.media_id, c.is_ref, f.i AS frame,
             c.scale * CASE WHEN c.ch = 1
               THEN (c.src*2654435761 + f.i*f.i*40503 + f.i*977) % 4096 - 2048
               ELSE ((c.src*2654435761 + f.i*f.i*40503 + f.i*977) % 4096 - 2048)
                  + ((c.src*2654435761 + f.i*f.i*40503 + f.i*977 + 997) % 4096 - 2048)
               END AS mix
           FROM clips c, range(0, 200) f(i)),
         energies AS (
           SELECT media_id, is_ref, k.k AS k, sum(mix * mix) AS e
           FROM range(0, 65) k(k) JOIN mixes
             ON frame >= k.k * 200 // 65 AND frame < (k.k + 1) * 200 // 65
           GROUP BY media_id, is_ref, k.k),
         fps AS (
           SELECT a.media_id, a.is_ref,
             bit_or(CASE WHEN b.e > a.e THEN
                 CASE WHEN a.k = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << a.k END
               ELSE 0::BIGINT END) AS afp
           FROM energies a JOIN energies b
             ON a.media_id = b.media_id AND a.is_ref = b.is_ref
               AND b.k = a.k + 1
           WHERE a.k < 64
           GROUP BY a.media_id, a.is_ref),
         best AS (
           SELECT s.media_id, r.media_id AS match_id,
             bit_count(xor(s.afp, r.afp)) AS hamming,
             row_number() OVER (PARTITION BY s.media_id
               ORDER BY bit_count(xor(s.afp, r.afp)), r.media_id) AS rn
           FROM fps s JOIN fps r ON s.is_ref = 0 AND r.is_ref = 1
           WHERE bit_count(xor(s.afp, r.afp)) <= 6),
         decided AS (
           SELECT f.media_id, f.afp,
             b.media_id IS NULL AS admitted, b.match_id,
             b.hamming AS match_hamming
           FROM fps f LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
             ON b.media_id = f.media_id
           WHERE f.is_ref = 0
           UNION ALL
           SELECT media_id, NULL, TRUE, NULL, NULL
           FROM (VALUES (9001), (9002), (9003), (9004)) t(media_id))
         SELECT media_id, afp, admitted, match_id,
           match_hamming::INTEGER AS match_hamming
         FROM decided
         ORDER BY media_id""")),

    CatalogEntry("q125_audio_fp_dedup", (s, d) => {
      val WAVE = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val AIFF = javax.sound.sampled.AudioFileFormat.Type.AIFF
      val AU = javax.sound.sampled.AudioFileFormat.Type.AU
      def chOf(i: Long): Int = if (i <= 6) 1 else 2
      val whole = pcmClip(4096L, 2L, 1, 200, 1, WAVE, bigEndian = false)
      val rows: Seq[(Long, Array[Byte])] =
        (1L to 10L).map(i =>
          (i, pcmClip(4096L, i, chOf(i), 200, 1, WAVE, bigEndian = false))) ++
        (1L to 10L).map(i =>
          (100L + i, pcmClip(4096L, i, chOf(i), 200, 1, AIFF, bigEndian = true))) ++
        (1L to 10L).map(i =>
          (200L + i, pcmClip(4096L, i, chOf(i), 200, 1, AU, bigEndian = true))) ++
        (1L to 4L).map(i =>
          (300L + i, pcmClip(4096L, i, 1, 200, 2, WAVE, bigEndian = false))) ++
        Seq((50L, pcmClip(4096L, 1L, 1, 40, 1, WAVE, bigEndian = false)),
          (9001L, whole.take(whole.length - 3)),
          (9002L, "not audio at all".getBytes("UTF-8")),
          (9003L, Array.empty[Byte]))
      val media = s.createDataFrame(rows)
        .toDF("media_id", "payload").repartition(4)
      val sigs = operators.Multimodal.audioFingerprint(
          operators.Multimodal.decodeWav(media, "payload"),
          "pcm", "au_channels")
        .select($"media_id", $"afp")
      val pairs = operators.Dedup.hammingNearDups(sigs, "media_id",
        "afp", maxHamming = 6)
      val partnered = pairs.select($"a".as("media_id"), $"b".as("partner"))
        .unionByName(pairs.select($"b".as("media_id"), $"a".as("partner")))
      val stats = partnered.groupBy($"media_id")
        .agg(count(lit(1)).as("n_pairs"), min($"partner").as("top_partner"))
      sigs.join(stats, Seq("media_id"), "left")
        .select($"media_id", $"afp",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"), $"top_partner")
        .orderBy($"media_id")
    }, Some(
      // the sample formula, stereo mixdown, all 65 window energies, the
      // gradient-sign bit packing and the exhaustive pairwise Hamming
      // truth replayed in SQL (16-bit PCM is lossless, so the decoded
      // samples ARE the formula); the short clip and the corrupt
      // payloads come back as explicit null-fingerprint rows
      """WITH clips AS (
           SELECT i AS media_id, i AS src, CASE WHEN i <= 6 THEN 1 ELSE 2 END AS ch,
             1 AS scale FROM range(1, 11) t(i)
           UNION ALL SELECT 100 + i, i, CASE WHEN i <= 6 THEN 1 ELSE 2 END, 1
             FROM range(1, 11) t(i)
           UNION ALL SELECT 200 + i, i, CASE WHEN i <= 6 THEN 1 ELSE 2 END, 1
             FROM range(1, 11) t(i)
           UNION ALL SELECT 300 + i, i, 1, 2 FROM range(1, 5) t(i)),
         mixes AS (
           SELECT c.media_id, f.i AS frame,
             c.scale * CASE WHEN c.ch = 1
               THEN (c.src*2654435761 + f.i*f.i*40503 + f.i*977) % 4096 - 2048
               ELSE ((c.src*2654435761 + f.i*f.i*40503 + f.i*977) % 4096 - 2048)
                  + ((c.src*2654435761 + f.i*f.i*40503 + f.i*977 + 997) % 4096 - 2048)
               END AS mix
           FROM clips c, range(0, 200) f(i)),
         energies AS (
           SELECT media_id, k.k AS k, coalesce(sum(mix * mix), 0) AS e
           FROM range(0, 65) k(k) LEFT JOIN mixes
             ON frame >= k.k * 200 // 65 AND frame < (k.k + 1) * 200 // 65
           GROUP BY media_id, k.k),
         fps AS (
           SELECT a.media_id,
             bit_or(CASE WHEN b.e > a.e THEN
                 CASE WHEN a.k = 63 THEN -9223372036854775807 - 1
                   ELSE 1::BIGINT << a.k END
               ELSE 0::BIGINT END) AS afp
           FROM energies a JOIN energies b
             ON a.media_id = b.media_id AND b.k = a.k + 1
           WHERE a.k < 64
           GROUP BY a.media_id),
         sigs AS (
           SELECT media_id, afp FROM fps WHERE media_id IS NOT NULL
           UNION ALL
           SELECT media_id, NULL
           FROM (VALUES (50), (9001), (9002), (9003)) t(media_id)),
         pairs AS (
           SELECT a.media_id AS a, b.media_id AS b,
             bit_count(xor(a.afp, b.afp)) AS hamming
           FROM sigs a JOIN sigs b ON a.media_id < b.media_id
           WHERE a.afp IS NOT NULL AND b.afp IS NOT NULL
             AND bit_count(xor(a.afp, b.afp)) <= 6),
         partnered AS (
           SELECT a AS media_id, b AS partner FROM pairs
           UNION ALL SELECT b, a FROM pairs),
         stats AS (
           SELECT media_id, count(*) AS n_pairs, min(partner) AS top_partner
           FROM partnered GROUP BY media_id)
         SELECT s.media_id, s.afp, coalesce(st.n_pairs, 0)::BIGINT AS n_pairs,
           st.top_partner
         FROM sigs s LEFT JOIN stats st ON st.media_id = s.media_id
         ORDER BY s.media_id"""))
  )

  /** An 8-frame 16x12 gray GIF (indexed gray palette, lossless): frames
    * 0-5 follow source `src`'s formula, 6-7 a shared tail; `bright`
    * lifts every pixel, `dropFirst` cuts frame 0 and `tweak` whitens
    * pixel (3, 0). */
  private def grayGif(src: Long, bright: Int, dropFirst: Boolean,
                      tweak: Boolean = false): Array[Byte] = {
    def pix(f: Int, x: Int, y: Int): Int = {
      val base =
        if (f < 6) ((src * 37 + x * (11 + src % 7) + y * 23 +
          x.toLong * y * (1 + src % 3)) % 200).toInt
        else ((src * 53 + x * 29 + y * 7 +
          x.toLong * y * 2 + 101) % 200).toInt
      if (tweak && x == 3 && y == 0) 255 else base + bright
    }
    val cmap = (0 until 256)
      .map(v => (0xFF << 24) | (v << 16) | (v << 8) | v).toArray
    val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0,
      false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- (if (dropFirst) 1 else 0) until 8) {
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until 12; x <- 0 until 16)
        img.getRaster.setSample(x, y, 0, pix(f, x, y))
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** A 16-bit 8 kHz clip of the audio fixtures' sample formula, each
    * sample `(h(src, frame, channel) mod span) - span / 2` times
    * `scale`, written as `tpe` with `bigEndian` samples. */
  private def pcmClip(span: Long, src: Long, ch: Int, frames: Int,
                      scale: Int,
                      tpe: javax.sound.sampled.AudioFileFormat.Type,
                      bigEndian: Boolean): Array[Byte] = {
    val out = new Array[Byte](frames * ch * 2)
    for (i <- 0 until frames; c <- 0 until ch) {
      val v = (((src * 2654435761L + i.toLong * i * 40503L +
        i * 977L + c * 997L) % span) - span / 2).toInt * scale
      val (hi, lo) = (((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      val base = (i * ch + c) * 2
      out(base) = if (bigEndian) hi else lo
      out(base + 1) = if (bigEndian) lo else hi
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 16, ch, true, bigEndian)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(out), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
    bos.toByteArray
  }

  /** The audio-embedding oracle (q150 batch, q151 streamed): PCM
    * formula, channel mix, k*frames div 64 window energies, cosine
    * argmax and tau 0.95; corrupt and short clips admit. */
  private def audioEmbedOracleSql: String =
    """WITH refs AS (SELECT i AS ref_id, i AS src,
             CASE WHEN i <= 4 THEN 1 ELSE 2 END AS ch, 1 AS scale
           FROM range(1, 9) t(i)),
         arr AS (
           SELECT 500 + i AS media_id, i AS src,
             CASE WHEN i <= 4 THEN 1 ELSE 2 END AS ch, 1 AS scale
           FROM range(1, 5) t(i)
           UNION ALL SELECT 510 + i, i, 2, 2 FROM range(5, 9) t(i)
           UNION ALL SELECT 520 + i, 20 + i, 1, 1 FROM range(1, 4) t(i)),
         rmix AS (SELECT ref_id, i,
             sum((((src*2654435761 + i*i*40503 + i*977 + c*997) % 128)
               - 64) * scale) AS m
           FROM refs, range(0, 200) s(i), range(0, 2) cc(c)
           WHERE c < ch GROUP BY 1, 2),
         re AS (SELECT ref_id, k, sum(m*m) AS e
           FROM rmix, range(0, 64) w(k)
           WHERE i >= k*200//64 AND i < (k+1)*200//64 GROUP BY 1, 2),
         amix AS (SELECT media_id, i,
             sum((((src*2654435761 + i*i*40503 + i*977 + c*997) % 128)
               - 64) * scale) AS m
           FROM arr, range(0, 200) s(i), range(0, 2) cc(c)
           WHERE c < ch GROUP BY 1, 2),
         ae AS (SELECT media_id, k, sum(m*m) AS e
           FROM amix, range(0, 64) w(k)
           WHERE i >= k*200//64 AND i < (k+1)*200//64 GROUP BY 1, 2),
         dots AS (SELECT a.media_id, r.ref_id, sum(a.e * r.e) AS dp
           FROM ae a JOIN re r ON a.k = r.k GROUP BY 1, 2),
         an AS (SELECT media_id, sqrt(sum(e*e)) AS n FROM ae GROUP BY 1),
         rn AS (SELECT ref_id, sqrt(sum(e*e)) AS n FROM re GROUP BY 1),
         cosr AS (SELECT d.media_id, d.ref_id, d.dp / (an.n * rn.n) AS cosv
           FROM dots d JOIN an USING (media_id) JOIN rn USING (ref_id)),
         best AS (SELECT media_id, ref_id, cosv FROM (
           SELECT media_id, ref_id, cosv, row_number() OVER
             (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
           FROM cosr) WHERE rk = 1)
         SELECT m.media_id,
           coalesce(b.cosv < 0.95, TRUE) AS admitted,
           CASE WHEN b.cosv >= 0.95 THEN b.ref_id END AS match_id
         FROM (SELECT media_id FROM arr UNION ALL SELECT 9001
               UNION ALL SELECT 9002 UNION ALL SELECT 9003) m
         LEFT JOIN best b USING (media_id)
         ORDER BY media_id"""

  /** The video-embedding oracle (q153 batch, q154 streamed): per-frame
    * pixel formulas into the 8x8 lattice, sum-pooled across frames (the
    * dropped-first-frame stratum skips f = 0), cosine argmax and tau
    * 0.98; torn, garbage and empty payloads admit. */
  private def videoEmbedOracleSql: String =
    """WITH refs AS (SELECT i AS ref_id, i AS src, 0 AS bright,
             0 AS drop0 FROM range(1, 7) t(i)),
         arr AS (
           SELECT 500 + i AS media_id, i AS src, 4 AS bright, 0 AS drop0
           FROM range(1, 4) t(i)
           UNION ALL SELECT 510 + i, i, 0, 1 FROM range(1, 4) t(i)
           UNION ALL SELECT 520 + i, 20 + i, 0, 0 FROM range(1, 4) t(i)),
         rcell AS (SELECT ref_id, gy*8 + gx AS i, sum(
             CASE WHEN f < 6 THEN
               (src*37 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*23
                 + (gx*16//8)*(gy*12//8)*(1 + src % 3)) % 200
             ELSE
               (src*53 + (gx*16//8)*29 + (gy*12//8)*7
                 + (gx*16//8)*(gy*12//8)*2 + 101) % 200
             END + bright) AS v
           FROM refs, range(0, 8) ff(f), range(0, 8) a(gy),
             range(0, 8) b(gx)
           GROUP BY 1, 2),
         acell AS (SELECT media_id, gy*8 + gx AS i, sum(
             CASE WHEN f < 6 THEN
               (src*37 + (gx*16//8)*(11 + src % 7) + (gy*12//8)*23
                 + (gx*16//8)*(gy*12//8)*(1 + src % 3)) % 200
             ELSE
               (src*53 + (gx*16//8)*29 + (gy*12//8)*7
                 + (gx*16//8)*(gy*12//8)*2 + 101) % 200
             END + bright) AS v
           FROM arr, range(0, 8) ff(f), range(0, 8) a(gy),
             range(0, 8) b(gx)
           WHERE f >= drop0
           GROUP BY 1, 2),
         dots AS (SELECT a.media_id, r.ref_id, sum(a.v * r.v) AS dp
           FROM acell a JOIN rcell r ON a.i = r.i GROUP BY 1, 2),
         an AS (SELECT media_id, sqrt(sum(v*v)) AS n FROM acell
           GROUP BY 1),
         rn AS (SELECT ref_id, sqrt(sum(v*v)) AS n FROM rcell
           GROUP BY 1),
         cosr AS (SELECT d.media_id, d.ref_id, d.dp / (an.n * rn.n) AS cosv
           FROM dots d JOIN an USING (media_id) JOIN rn USING (ref_id)),
         best AS (SELECT media_id, ref_id, cosv FROM (
           SELECT media_id, ref_id, cosv, row_number() OVER
             (PARTITION BY media_id ORDER BY cosv DESC, ref_id) AS rk
           FROM cosr) WHERE rk = 1)
         SELECT m.media_id,
           coalesce(b.cosv < 0.98, TRUE) AS admitted,
           CASE WHEN b.cosv >= 0.98 THEN b.ref_id END AS match_id
         FROM (SELECT media_id FROM arr UNION ALL SELECT 9001
               UNION ALL SELECT 9002 UNION ALL SELECT 9003) m
         LEFT JOIN best b USING (media_id)
         ORDER BY media_id"""
}
