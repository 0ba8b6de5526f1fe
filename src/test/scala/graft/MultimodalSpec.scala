package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Multimodal
import graft.functions.Multimodal.MediaBlob

/** The multimodal plumbing contract: schema, determinism, batch shape, and
  * agreement with the SQL-side metadata query (q29). */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def blob(id: Long, s: String) =
    MediaBlob(id, "text/plain", s.getBytes("UTF-8"))

  test("extractFeatures is deterministic and preserves ids/byte counts") {
    val ds = Seq(blob(1, "hello world"), blob(2, "x" * 1000)).toDS()
    val out1 = Multimodal.extractFeatures(ds).collect().sortBy(_.doc_id)
    val out2 = Multimodal.extractFeatures(ds).collect().sortBy(_.doc_id)
    assert(out1.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(out1(0).n_bytes == 11 && out1(1).n_bytes == 1000)
    // 1000 bytes / 256-byte frames → 4 frames; 11 bytes → 1 frame
    assert(out1(0).frames.length == 1 && out1(1).frames.length == 4)
    assert(out1.map(_.checksum).toSeq == out2.map(_.checksum).toSeq)
    assert(out1.zip(out2).forall { case (a, b) => a.frames.sameElements(b.frames) })
  }

  test("checksum matches Spark SQL md5 (q29 agreement)") {
    val ds = Seq(blob(7, "some payload")).toDS()
    val fromUdfPath = Multimodal.extractFeatures(ds).collect().head.checksum
    val fromSql = spark.sql("SELECT md5(encode('some payload', 'UTF-8')) AS m")
      .collect().head.getString(0)
    assert(fromUdfPath == fromSql)
  }

  test("batching never drops or duplicates rows at partition boundaries") {
    val ds = (1L to 301L).map(i => blob(i, s"doc$i")).toDS().repartition(7)
    val out = Multimodal.extractFeatures(ds, batchSize = 10).collect()
    assert(out.map(_.doc_id).sorted.toSeq == (1L to 301L))
  }

  test("WAV PCM16 encode/decode round-trips samples and rate exactly") {
    val samples = Array.tabulate(3000)(i => ((i * 37) % 65536 - 32768).toShort)
    val bytes = Multimodal.encodeWavPcm16(samples, 44100)
    val (rate, decoded) = Multimodal.decodeWavPcm16(bytes)
    assert(rate == 44100)
    assert(decoded.sameElements(samples))
  }

  test("WAV decoder walks interleaved chunks instead of assuming offset 44") {
    val samples = Array[Short](100, -200, 300)
    val std = Multimodal.encodeWavPcm16(samples, 8000)
    // splice a LIST chunk between fmt and data (odd 5-byte body + word pad)
    val fmtEnd = 12 + 8 + 16
    val junk = "LIST".getBytes("US-ASCII") ++
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(5).array() ++ Array[Byte](1, 2, 3, 4, 5) ++ Array[Byte](0)
    val spliced = std.take(fmtEnd) ++ junk ++ std.drop(fmtEnd)
    val (rate, decoded) = Multimodal.decodeWavPcm16(spliced)
    assert(rate == 8000 && decoded.sameElements(samples))
  }

  test("WAV decoder rejects non-WAV and non-PCM16-mono payloads") {
    intercept[IllegalArgumentException] {
      Multimodal.decodeWavPcm16("not a wave file at all".getBytes)
    }
    val stereoish = Multimodal.encodeWavPcm16(Array[Short](1, 2), 8000)
    stereoish(22) = 2 // channels field -> 2
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(stereoish) }
  }

  test("WAV decoder throws (not loops) on a negative/oversized chunk length") {
    // A negative length would point `next` backwards and re-read the same
    // chunk forever; the codec contract is to throw on malformed input.
    val evil = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3), 8000)
    val buf = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(16, -8) // fmt chunk length -> -8
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(evil) }
    val huge = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3), 8000)
    java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, Int.MaxValue) // fmt chunk claims more than the buffer holds
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(huge) }
  }

  test("WAV decoder rejects a short fmt chunk instead of reading into the next one") {
    // fmt declares len=12 (< the 16 PCM bytes the decoder reads): without
    // the len>=16 guard the field reads spill into the following chunk's
    // bytes (or underflow at end-of-buffer) — the contract is IAE.
    val evil = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3), 8000)
    java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 12) // fmt chunk length -> 12
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(evil) }
    // truncated-at-end fmt: header + "fmt " + len=12 + only 12 bytes left
    val truncated = evil.take(12 + 8 + 12)
    intercept[IllegalArgumentException] { Multimodal.decodeWavPcm16(truncated) }
  }

  test("PPM P6 encode/decode round-trips dimensions and pixels, eats comments") {
    val rgb = Array.tabulate(2 * 3 * 3)(i => (i * 7 % 256).toByte)
    val bytes = Multimodal.encodePpm(2, 3, rgb)
    val (w, h, maxval, pixels) = Multimodal.decodePpm(bytes)
    assert((w, h, maxval) == (2, 3, 255))
    assert(pixels.sameElements(rgb))
    val withComment = ("P6\n# a comment\n2 3\n255\n".getBytes("US-ASCII")) ++ rgb
    val (w2, h2, _, pixels2) = Multimodal.decodePpm(withComment)
    assert((w2, h2) == (2, 3) && pixels2.sameElements(rgb))
    intercept[IllegalArgumentException] { Multimodal.decodePpm("P5 junk".getBytes) }
  }

  test("resizePpm: integer nearest-neighbor mapping, identity when target >= source") {
    // 8×1 image with distinct R values 0..7
    val rgb = (0 until 8).flatMap(i => Seq(i.toByte, 0.toByte, 0.toByte)).toArray
    val src = Multimodal.encodePpm(8, 1, rgb)
    // down to 4 columns: j -> floor(j*8/4) = 0,2,4,6
    val (w, h, _, out) = Multimodal.decodePpm(Multimodal.resizePpm(src, 4, 1))
    assert(w == 4 && h == 1)
    assert(out.grouped(3).map(_(0).toInt).toSeq == Seq(0, 2, 4, 6))
    // never upsamples: target 100 clamps to the source width, bytes identical
    val same = Multimodal.resizePpm(src, 100, 1)
    assert(same.sameElements(src))
    // 2D: 2×2 -> 1×1 keeps pixel (0,0)
    val rgb22 = Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4)
    val (w2, h2, _, out2) = Multimodal.decodePpm(
      Multimodal.resizePpm(Multimodal.encodePpm(2, 2, rgb22), 1, 1))
    assert(w2 == 1 && h2 == 1 && out2.toSeq == Seq[Byte](1, 1, 1))
  }

  test("wavFramePeaks: exact frame boundaries, short streams get one frame per sample") {
    import spark.implicits._
    val samples = Array[Short](100, -200, 300, -400, 500, -600) // n=6
    val blob = Multimodal.MediaBlob(7L, "audio/wav",
      Multimodal.encodeWavPcm16(samples, 8000))
    val ds = spark.createDataset(Seq(blob))
    // nFrames=3: spans [0,2) [2,4) [4,6) -> peaks 200, 400, 600
    val got = Multimodal.wavFramePeaks(ds, 3).collect().sortBy(_.frame)
    assert(got.map(f => (f.frame, f.peak)).toSeq ==
      Seq((0L, 200L), (1L, 400L), (2L, 600L)))
    // nFrames=32 > n: one frame per sample
    val fine = Multimodal.wavFramePeaks(ds, 32).collect()
    assert(fine.length == 6 && fine.map(_.peak).sorted.toSeq ==
      Seq(100L, 200L, 300L, 400L, 500L, 600L))
  }

  test("mime dispatch: wav frames are real block peaks, ppm frames carry dims") {
    val samples = Array.tabulate(2500)(i => (i - 1250).toShort) // peak 1250 & 1249
    val wav = MediaBlob(1, "audio/wav", Multimodal.encodeWavPcm16(samples, 8000))
    val rgb = Array.fill(4 * 2 * 3)(17.toByte)
    val ppm = MediaBlob(2, "image/x-portable-pixmap", Multimodal.encodePpm(4, 2, rgb))
    val out = Multimodal.extractFeatures(Seq(wav, ppm).toDS()).collect()
      .sortBy(_.doc_id)
    // 2500 samples / 1024-sample blocks -> 3 frames; block peaks are exact:
    // block1 = -1250..-227 -> 1250, block2 = -226..797 -> 797, block3 -> 1249
    assert(out(0).frames.toSeq == Seq(1250, 797, 1249))
    assert(out(1).frames.take(3).toSeq == Seq(4, 2, 255) &&
      out(1).frames.drop(3).toSeq == Seq(17, 17))
  }

  test("ppmFeatures extracts per-channel maxima from the decoded plane") {
    // 2x2 image with known channel extremes
    val rgb = Array[Int](
      10, 200, 30,  90, 20, 130,
      40, 250, 60,  80, 10, 255).map(_.toByte)
    val ds = Seq(MediaBlob(3, "image/x-portable-pixmap",
      Multimodal.encodePpm(2, 2, rgb))).toDS()
    val f = Multimodal.ppmFeatures(ds).collect().head
    assert((f.width, f.height, f.maxval) == (2L, 2L, 255L))
    assert((f.max_r, f.max_g, f.max_b) == (90L, 250L, 255L))
  }

  test("fixture documents are ASCII-only (q54/q55 oracle parity precondition)") {
    // The q54/q55 DuckDB oracles restate the decoded features over
    // CHARACTERS (string_split + ord, len) while the engine decodes UTF-8
    // BYTES, and q54's peak formula assumes every byte < 128. Both hold
    // exactly when the fixture text is pure ASCII — pin that here so a
    // fixture change fails with this message instead of a confusing
    // q54/q55 hash diff.
    val maxByte = graft.sources.Tables(spark, "/root/testdata/sf0.01", "documents")
      .selectExpr("text").as[String]
      .map(t => t.getBytes("UTF-8").foldLeft(0)((m, b) => math.max(m, b & 0xff)))
      .reduce(math.max _)
    assert(maxByte < 128,
      s"documents fixture contains non-ASCII byte $maxByte: the q54/q55 " +
        "byte-vs-character oracle equivalence no longer holds")
  }

  test("binaryFile ingest decodes identically to the in-memory payload path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_binfiles")
    try {
      val payloads = (1L to 3L).map { id =>
        val samples = (0 until 64).map(i => ((i * 37 + id * 11) % 251 * 100).toShort).toArray
        id -> Multimodal.encodeWavPcm16(samples, 8000)
      }
      payloads.foreach { case (id, bytes) =>
        java.nio.file.Files.write(tmp.resolve(s"doc_$id.wav"), bytes)
      }
      // a non-matching object the glob must prune at listing time
      java.nio.file.Files.write(tmp.resolve("manifest.txt"), "not media".getBytes)
      // a glob-MATCHING file without the doc_<id> key: the id parse yields
      // null, which must be pruned, not blow up the non-null encoder
      java.nio.file.Files.write(tmp.resolve("stray.wav"),
        Multimodal.encodeWavPcm16(Array[Short](1, 2, 3), 8000))

      val fromFiles = Multimodal.wavFeatures(
        Multimodal.blobsFromFiles(spark, tmp.toString, "*.wav", "audio/wav"))
        .collect().map(f => f.doc_id -> f).toMap
      val direct = Multimodal.wavFeatures(
        payloads.map { case (id, b) => MediaBlob(id, "audio/wav", b) }.toDS())
        .collect().map(f => f.doc_id -> f).toMap
      assert(fromFiles.keySet == Set(1L, 2L, 3L), s"glob/id-parse failed: ${fromFiles.keySet}")
      assert(fromFiles == direct,
        "file-borne payloads must decode byte-identically to in-memory ones")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("wavFeatures matches the q54 oracle arithmetic on a known payload") {
    val text = "Hello graft" // ASCII; min byte 'H' = 72 -> peak (128-72)*256
    val bytes = text.getBytes("UTF-8")
    val samples = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
    val ds = Seq(MediaBlob(9, "audio/wav",
      Multimodal.encodeWavPcm16(samples, 8000))).toDS()
    val f = Multimodal.wavFeatures(ds).collect().head
    assert(f.sample_rate == 8000 && f.n_samples == bytes.length)
    assert(f.duration_ms == bytes.length * 1000L / 8000)
    assert(f.peak_amplitude == (128 - bytes.min) * 256)
  }

  // ------------------------------------------------- perceptual hashing --

  private def rgbImage(w: Int, h: Int)(px: Int => (Int, Int, Int)) = {
    val rgb = new Array[Byte](w * h * 3)
    (0 until w * h).foreach { i =>
      val (r, g, b) = px(i)
      rgb(3 * i) = r.toByte; rgb(3 * i + 1) = g.toByte; rgb(3 * i + 2) = b.toByte
    }
    Multimodal.encodePpm(w, h, rgb)
  }

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("ppmDHash60: exactly invariant to a uniform brightness lift") {
    // 200 pixels of structured content; +40 on EVERY channel (no clamp:
    // values stay ≤ 215) shifts every span sum by the same per-pixel Δ,
    // which cancels in each cross-multiplied comparison — zero bits move.
    val base = rgbImage(200, 1)(i => (i % 170, (i * 7) % 170, (i * 13) % 170))
    val lifted = rgbImage(200, 1)(i =>
      (i % 170 + 40, (i * 7) % 170 + 40, (i * 13) % 170 + 40))
    assert(ham(Multimodal.ppmDHash60(base), Multimodal.ppmDHash60(lifted)) == 0)
  }

  test("ppmDHash60: a single-pixel edit disturbs at most 2 bits") {
    val base = rgbImage(200, 1)(i => (i % 200, 255 - i % 200, (i * 3) % 200))
    val stamped = rgbImage(200, 1)(i =>
      if (i == 77) (255, 255, 255) else (i % 200, 255 - i % 200, (i * 3) % 200))
    // pixel 77 lies in one span; only the two comparisons touching that
    // span (bit s-1 and bit s) can flip.
    assert(ham(Multimodal.ppmDHash60(base), Multimodal.ppmDHash60(stamped)) <= 2)
  }

  test("reexportPpm is a valid P6 with the R lift and origin stamp applied") {
    val base = rgbImage(10, 1)(i => (10 * i, 20, 250))
    val (w, h, _, rgb) = Multimodal.decodePpm(Multimodal.reexportPpm(base))
    assert(w == 10 && h == 1)
    assert((rgb(0) & 0xff, rgb(1) & 0xff, rgb(2) & 0xff) == ((255, 255, 255)))
    // pixel 3: R = 30+8, G/B unchanged; pixel 9: R = 90+8
    assert((rgb(9) & 0xff) == 38 && (rgb(10) & 0xff) == 20 && (rgb(11) & 0xff) == 250)
    assert((rgb(27) & 0xff) == 98)
  }

  test("q110 banding is recall-exact at Hamming <= 3 (pigeonhole over 4 bands)") {
    val sf = "/root/testdata/sf0.001"
    val hashes = Multimodal.ppmDHashes(
      Multimodal.documentsAsPpmBlobsWithReexports(spark, sf)).toDF()
    import org.apache.spark.sql.functions._
    val banded = graft.queries.EmbedQueries.imagePhashPairs(hashes, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exhaustive all-pairs ground truth at the same threshold (fixture
    // scale only): ≤ 3 differing bits cannot touch all 4 bands, so the
    // banded equi-join must find the identical pair set.
    val h2 = hashes.select(col("doc_id").as("doc_b"), col("dhash").as("hb"))
    val exhaustive = hashes.select(col("doc_id").as("doc_a"), col("dhash").as("ha"))
      .crossJoin(h2)
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(ha ^ hb)") <= 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exhaustive,
      s"banded != exhaustive: missing=${exhaustive -- banded} extra=${banded -- exhaustive}")
    assert(exhaustive.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("q110: every re-export twin co-clusters with its base image") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.EmbedQueries
      .q110ImagePhashDedup(spark, "/root/testdata/sf0.001")
    val labels = out.select("doc_id", "cluster_id")
    val base = labels.filter(col("doc_id") < Multimodal.ReexportIdOffset)
      .select(col("doc_id"), col("cluster_id").as("cb"))
    val reex = labels.filter(col("doc_id") >= Multimodal.ReexportIdOffset)
      .select((col("doc_id") - Multimodal.ReexportIdOffset).as("doc_id"),
        col("cluster_id").as("cr"))
    // Full outer: a twin missing from the cluster table entirely (its
    // pair was never found) must fail, not vanish from an inner join.
    val joined = base.join(reex, Seq("doc_id"), "full_outer")
    assert(joined.filter(col("cb").isNull || col("cr").isNull ||
      col("cb") =!= col("cr")).count() == 0,
      "some re-export twin is missing or split from its base")
    // The twins dominate the graph: cross-document merges (genuine
    // pixel-near-dup texts — sf0.001 has exactly one such pair) may
    // fuse a few, so cluster count sits just below the doc count.
    val nClusters = out.select("cluster_id").distinct().count()
    val nDocs = base.count()
    assert(nClusters >= nDocs - 5 && nClusters <= nDocs,
      s"unexpected cluster structure: $nClusters clusters for $nDocs docs")
  }

  test("wavEnergyFingerprint63: exactly invariant to an exact uniform gain") {
    // Samples are multiples of 8, so ·7/8 is exact — every span energy
    // scales by the same factor and every comparison (and tie) holds.
    val base = Multimodal.encodeWavPcm16(
      (0 until 500).map(i => ((i * 37) % 3000 * 8 - 12000).toShort).toArray, 8000)
    val (rate, s) = Multimodal.decodeWavPcm16(base)
    val gained = Multimodal.encodeWavPcm16(
      s.map(x => (x * 7 / 8).toShort), rate)
    assert(ham(Multimodal.wavEnergyFingerprint63(base),
      Multimodal.wavEnergyFingerprint63(gained)) == 0)
  }

  test("wavEnergyFingerprint63: a single-sample click flips at most 1 bit") {
    val samples = (0 until 640).map(i => ((i * 53) % 2000 - 1000).toShort).toArray
    val clicked = samples.clone(); clicked(0) = 32000
    val a = Multimodal.wavEnergyFingerprint63(
      Multimodal.encodeWavPcm16(samples, 8000))
    val b = Multimodal.wavEnergyFingerprint63(
      Multimodal.encodeWavPcm16(clicked, 8000))
    // sample 0 lies in span 0, which only the bit-0 comparison touches
    assert(ham(a, b) <= 1)
  }

  test("wavEnergyFingerprint63: degenerate streams hash to the fixed 0L") {
    assert(Multimodal.wavEnergyFingerprint63(
      Multimodal.encodeWavPcm16(Array.empty[Short], 8000)) == 0L)
    assert(Multimodal.wavEnergyFingerprint63(
      Multimodal.encodeWavPcm16(Array[Short](1234), 8000)) == 0L)
  }

  test("reexportWav is a valid WAV with exact 7/8 gain and the click applied") {
    val base = Multimodal.encodeWavPcm16(
      Array[Short](-25600, 256, 12800, -512), 8000)
    val (rate, s) = Multimodal.decodeWavPcm16(Multimodal.reexportWav(base))
    assert(rate == 8000)
    assert(s.toSeq == Seq[Short](32000, 224, 11200, -448))
  }

  test("q126 banding is recall-exact at Hamming <= 3 (pigeonhole over 4 bands)") {
    val sf = "/root/testdata/sf0.001"
    val fps = Multimodal.wavFingerprints(
      Multimodal.documentsAsWavBlobsWithReexports(spark, sf)).toDF()
    import org.apache.spark.sql.functions._
    val banded = graft.queries.EmbedQueries.audioFpPairs(fps, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val f2 = fps.select(col("doc_id").as("doc_b"), col("afp").as("hb"))
    val exhaustive = fps.select(col("doc_id").as("doc_a"), col("afp").as("ha"))
      .crossJoin(f2)
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(ha ^ hb)") <= 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exhaustive,
      s"banded != exhaustive: missing=${exhaustive -- banded} extra=${banded -- exhaustive}")
    assert(exhaustive.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("q126: every re-export twin co-clusters with its base track") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.EmbedQueries
      .q126AudioFpDedup(spark, "/root/testdata/sf0.001")
    val labels = out.select("doc_id", "cluster_id")
    val base = labels.filter(col("doc_id") < Multimodal.ReexportIdOffset)
      .select(col("doc_id"), col("cluster_id").as("cb"))
    val reex = labels.filter(col("doc_id") >= Multimodal.ReexportIdOffset)
      .select((col("doc_id") - Multimodal.ReexportIdOffset).as("doc_id"),
        col("cluster_id").as("cr"))
    val joined = base.join(reex, Seq("doc_id"), "full_outer")
    assert(joined.filter(col("cb").isNull || col("cr").isNull ||
      col("cb") =!= col("cr")).count() == 0,
      "some re-export twin is missing or split from its base")
    // 63 bits put random collisions at ~2⁻⁶³ per comparison (the 32-span
    // prototype's hairball regime is gone); a stray genuine energy
    // collision may still fuse a family or two.
    val nClusters = out.select("cluster_id").distinct().count()
    val nDocs = base.count()
    assert(nClusters >= nDocs - 15 && nClusters <= nDocs,
      s"unexpected cluster structure: $nClusters clusters for $nDocs docs")
  }

  test("motion-PPM container round-trips frames; torn streams throw") {
    val f1 = Multimodal.encodePpm(3, 1, Array.tabulate(9)(i => (i * 11).toByte))
    val f2 = Multimodal.encodePpm(2, 2, Array.tabulate(12)(i => (200 - i).toByte))
    val f3 = Multimodal.encodePpm(1, 1, Array[Byte](1, 2, 3))
    val video = Multimodal.encodeMotionPpm(Seq(f1, f2, f3))
    val back = Multimodal.splitMotionPpm(video)
    assert(back.length == 3)
    assert(back(0).sameElements(f1) && back(1).sameElements(f2) &&
      back(2).sameElements(f3))
    intercept[IllegalArgumentException] {
      Multimodal.splitMotionPpm(video.dropRight(2)) // torn last plane
    }
    intercept[IllegalArgumentException] {
      Multimodal.splitMotionPpm("JUNK".getBytes ++ video)
    }
  }

  test("reexportMotionPpm trims the trailing frame and relights the rest") {
    val frames = (0 until 4).map(k =>
      Multimodal.encodePpm(70, 1,
        Array.tabulate(210)(i => ((i * (k + 3)) % 200).toByte)))
    val re = Multimodal.splitMotionPpm(
      Multimodal.reexportMotionPpm(Multimodal.encodeMotionPpm(frames)))
    assert(re.length == 3, "trailing frame must be trimmed")
    re.zip(frames.init).foreach { case (got, orig) =>
      assert(got.sameElements(Multimodal.reexportPpm(orig)))
    }
    // single-frame videos keep their one frame
    val solo = Multimodal.splitMotionPpm(
      Multimodal.reexportMotionPpm(Multimodal.encodeMotionPpm(frames.take(1))))
    assert(solo.length == 1)
  }

  test("q129 banding is recall-exact on the video frame-overlap rule") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val fh = Multimodal.videoFrameHashes(
      Multimodal.documentsAsVideoBlobsWithReexports(spark, sf)).toDF()
    val banded = graft.queries.EmbedQueries.videoPhashPairs(fh, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exhaustive ground truth: EVERY video pair scored under the same
    // matched·2 ≥ min(na, nb) rule, no banding anywhere.
    val sizes = fh.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val a = fh.select(col("doc_id").as("doc_a"), col("fidx").as("fa"),
      col("fhash").as("ha"))
    val b = fh.select(col("doc_id").as("doc_b"), col("fhash").as("hb"))
    val exhaustive = a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(ha ^ hb)") <= 3)
      .groupBy("doc_a", "doc_b").agg(countDistinct(col("fa")).as("matched"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .filter(col("matched") * 2 >= least(col("na"), col("nb")))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exhaustive,
      s"banded != exhaustive: missing=${exhaustive -- banded} extra=${banded -- exhaustive}")
    assert(exhaustive.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("q129: every transcode twin co-clusters with its base video") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.EmbedQueries
      .q129VideoPhashDedup(spark, "/root/testdata/sf0.001")
    val labels = out.select("doc_id", "cluster_id")
    val base = labels.filter(col("doc_id") < Multimodal.ReexportIdOffset)
      .select(col("doc_id"), col("cluster_id").as("cb"))
    val reex = labels.filter(col("doc_id") >= Multimodal.ReexportIdOffset)
      .select((col("doc_id") - Multimodal.ReexportIdOffset).as("doc_id"),
        col("cluster_id").as("cr"))
    val joined = base.join(reex, Seq("doc_id"), "full_outer")
    assert(joined.filter(col("cb").isNull || col("cr").isNull ||
      col("cb") =!= col("cr")).count() == 0,
      "some transcode twin is missing or split from its base")
    val nClusters = out.select("cluster_id").distinct().count()
    val nDocs = base.count()
    assert(nClusters >= nDocs - 15 && nClusters <= nDocs,
      s"unexpected cluster structure: $nClusters clusters for $nDocs docs")
  }
}
