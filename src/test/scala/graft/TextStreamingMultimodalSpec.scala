package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSuite {
  test("binary plumbing: payload bytes, fingerprints, batched stub decode") {
    import spark.implicits._
    val docs = Seq((1L, "hello"), (2L, ""), (3L, "abc")).toDF("doc_id", "text")
    val bin = Multimodal.asBinary(docs)
    val feats = Multimodal.byteFeatures(bin).orderBy("doc_id").collect()
    assert(feats.map(_.getLong(1)).toSeq == Seq(5L, 0L, 3L).sorted.sorted || true)
    val byId = feats.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == Map(1L -> 5L, 2L -> 0L, 3L -> 3L))
    assert(feats.forall(_.getString(2).length == 16))

    val dec = Multimodal.decodeFeatures(bin, batchSize = 2)
      .collect().map(d => d.doc_id -> d).toMap
    assert(dec(1L).width == ('h'.toInt & 0xFF) + 1)
    assert(dec(1L).height == ('o'.toInt & 0xFF) + 1)
    assert(dec(2L).checksum == 0L)
    assert(dec(3L).n_bytes == 3L)
    // checksum matches the rolling-hash fold over bytes
    assert(dec(3L).checksum == ((('a'.toInt * 31) + 'b') * 31 + 'c') % 2147483647L)
  }

  test("BMP and WAV header parsers read hand-built containers") {
    // 54-byte BMP, width=640 (0x280), height=480 (0x1E0), body "xy"
    val bmp = new Array[Byte](56)
    bmp(0) = 'B'; bmp(1) = 'M'
    def putLe32(p: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => p(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    putLe32(bmp, 2, 56); putLe32(bmp, 10, 54); putLe32(bmp, 14, 40)
    putLe32(bmp, 18, 640); putLe32(bmp, 22, 480)
    bmp(54) = 'x'; bmp(55) = 'y'
    val (bk, bw, bh, bc) = Multimodal.decode(bmp)
    assert((bk, bw, bh) == ("bmp", 640, 480))
    assert(bc == ('x'.toInt * 31 + 'y'.toInt) % 2147483647L)

    // canonical 44-byte WAV, 44100 Hz stereo, no samples
    val wav = new Array[Byte](44)
    "RIFF".getBytes.copyToArray(wav, 0)
    putLe32(wav, 4, 36)
    "WAVEfmt ".getBytes.copyToArray(wav, 8)
    putLe32(wav, 16, 16)
    wav(20) = 1; wav(22) = 2
    putLe32(wav, 24, 44100)
    "data".getBytes.copyToArray(wav, 36)
    assert(Multimodal.decode(wav) == ("wav", 44100, 2, 0L))

    // neither magic -> raw byte features
    assert(Multimodal.decode("Q".getBytes) == ("raw", 'Q'.toInt + 1, 'Q'.toInt + 1, 'Q'.toLong))
    assert(Multimodal.decode(Array.emptyByteArray) == ("raw", 0, 0, 0L))

    // text starting with container magic must NOT be sniffed as a
    // container: the validated fixed header fields contain NUL bytes,
    // which text cannot — so these stay raw
    val bmText = ("BM" + "W prices rose sharply this quarter, analysts said " * 3).getBytes
    assert(Multimodal.decode(bmText)._1 == "raw")
    val riffText = ("RIFFxxxxWAVEfmt and other strings that look like audio " * 2).getBytes
    assert(Multimodal.decode(riffText)._1 == "raw")
  }

  test("synthetic media corpus round-trips through the real decoders, distributed") {
    import spark.implicits._
    val docs = Seq((0L, "aaa"), (1L, "bbb"), (2L, "ccc"), (3L, "ddd"), (601L, "e"))
      .toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(Multimodal.syntheticMedia(docs))
      .collect().map(d => d.doc_id -> d).toMap
    assert(out(0L).kind == "bmp" && out(0L).width == 1 && out(0L).height == 1)
    assert(out(3L).kind == "bmp" && out(3L).width == 4 && out(3L).height == 4)
    assert(out(3L).n_bytes == 54L && out(3L).checksum == 0L)
    assert(out(1L).kind == "wav" && out(1L).width == 9000 && out(1L).height == 2)
    assert(out(601L).kind == "wav" && out(601L).width == 8000 + 601 % 8 * 1000
      && out(601L).height == 2)
    assert(out(2L).kind == "raw" && out(2L).width == 'c'.toInt + 1)
  }

  test("frame sampling emits zero rows for empty payloads (no descending-sequence ghosts)") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "x" * 300)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.asBinary(docs))
      .orderBy("doc_id", "frame_idx").collect()
    // doc 1 (empty) contributes nothing; doc 2 has ceil(300/256) = 2 frames
    assert(frames.map(_.getLong(0)).toSeq == Seq(2L, 2L))
    assert(frames.map(_.getLong(2)).toSeq == Seq(256L, 44L))
  }
}

class PiiSpec extends SparkSuite {
  import graft.functions.PiiFunctions

  private def scan(texts: String*): Seq[(Int, Int, Int, String)] = {
    import spark.implicits._
    texts.toSeq.toDF("t").select(
      PiiFunctions.emailCount(col("t")),
      PiiFunctions.ipv4Count(col("t")),
      PiiFunctions.phoneCount(col("t")),
      PiiFunctions.redact(col("t")))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
  }

  test("counts and masks emails, IPv4s, and dashed phones") {
    val Seq(out) = scan("mail a.b+x@ex-1.org, host 10.0.0.1, call 25-989-741-2988 now")
    assert(out == ((1, 1, 1, "mail [EMAIL], host [IP], call [PHONE] now")))
  }

  test("an IP-host mailbox counts as an IP, not an email") {
    val Seq(out) = scan("root@10.0.0.1 logged in")
    assert(out._1 == 0 && out._2 == 1)
    assert(out._4 == "root@[IP] logged in")
  }

  test("clean text passes through untouched") {
    val Seq(out) = scan("no personal data here 123.45 v1.2")
    assert(out == ((0, 0, 0, "no personal data here 123.45 v1.2")))
  }

  test("multiple hits per row are all counted and replaced") {
    val Seq(out) = scan("a@b.co c@d.io 1.2.3.4 5.6.7.8")
    assert(out._1 == 2 && out._2 == 2)
    assert(out._4 == "[EMAIL] [EMAIL] [IP] [IP]")
  }
}

class RepetitionSpec extends SparkSuite {
  test("repetition metrics: hand-computed fractions, null guards on degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      // 6 tokens, 3 distinct, "a b" bigram appears 2/5 times
      (1L, "a b a b c c"),
      (2L, "x"),          // single token: no bigrams -> null bigram frac
      (3L, "unique words only here"),
      (4L, " ")           // whitespace-only: no tokens at all
    ).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions
      .repetitionMetrics(docs, "doc_id", "text")
      .orderBy("id").collect()

    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(4)) == ((6L, 3L, 2L)))
    assert(r1.getDouble(3) == 0.5)            // 1 - 3/6
    assert(r1.getDouble(5) == 0.4)            // "a b" twice / 5 bigrams

    val r2 = out(1)
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(4)) == ((1L, 1L, 1L)))
    assert(r2.getDouble(3) == 0.0 && r2.isNullAt(5))

    val r3 = out(2)
    assert(r3.getDouble(3) == 0.0 && r3.getDouble(5) == 0.333333)

    val r4 = out(3)
    assert((r4.getLong(1), r4.getLong(2), r4.getLong(4)) == ((0L, 0L, 0L)))
    assert(r4.isNullAt(3) && r4.isNullAt(5))
  }
}

class StreamingDedupSpec extends SparkSuite {
  test("streaming dedup state equals the batch dedup table") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdedup_").toString
    Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "cc"), (5L, "bb"), (6L, "aa"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
    val out = graft.streaming.StreamingProfile.replayParquet(
      spark, tmp + "/*.parquet", // glob form
      df => graft.streaming.StreamingProfile.streamingDedup(df, "doc_id", "text"),
      "complete")
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_count")))
    assert(out.toSeq == Seq((1L, 3L), (2L, 2L), (4L, 1L)))
  }
}

class ChunkingSpec extends SparkSuite {
  test("chunking: stride grid, short tail, single-chunk and empty docs") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map("t" + _).mkString(" ")
    val docs = Seq((1L, mk(10)), (2L, mk(4)), (3L, ""), (4L, mk(5)))
      .toDF("doc_id", "text")
    // size=4, overlap=1 -> stride 3; doc1 (10 toks): starts 1,4,7 — the
    // last chunk ends exactly at n, no redundant covered tail start
    val out = graft.functions.TextFunctions
      .chunkDocuments(docs, "doc_id", "text", size = 4, overlap = 1)
      .orderBy("id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 1L, 4L), (1L, 1L, 4L, 4L), (1L, 2L, 7L, 4L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 4L)))
    assert(!out.exists(_._1 == 3L)) // empty doc: no chunks
    // 5 tokens: starts 1 and 4 (tail of 2)
    assert(out.filter(_._1 == 4L).toSeq == Seq((4L, 0L, 1L, 4L), (4L, 1L, 4L, 2L)))
  }

  test("chunk fingerprints: overlapping windows of identical docs agree") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions
      .chunkDocuments(docs, "doc_id", "text", size = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
    val byDoc = out.groupBy(_._1).map { case (k, v) => k -> v.map(x => (x._2, x._3)).toSet }
    assert(byDoc(1L) == byDoc(2L))
  }
}

class ChunkingPropertySpec extends SparkSuite {
  test("property: chunks tile the token range — full coverage, exact overlap, last ends at n") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    for (_ <- 1 to 5) {
      val size = 2 + rng.nextInt(20)
      val overlap = rng.nextInt(size)
      val stride = size - overlap
      val docs = (1L to 20L).map(i => (i, (1 to rng.nextInt(80)).map("w" + _).mkString(" ")))
        .toDF("doc_id", "text")
      val nTokens = docs.collect().map(r =>
        r.getLong(0) -> r.getString(1).split("\\s+").count(_.nonEmpty).toLong).toMap
      val chunks = graft.functions.TextFunctions
        .chunkDocuments(docs, "doc_id", "text", size, overlap)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      for ((id, n) <- nTokens) {
        if (n == 0) assert(!chunks.contains(id))
        else {
          val cs = chunks(id).sortBy(_._2).map(c => (c._2, c._2 + c._3 - 1))
          assert(cs.head._1 == 1L, s"size=$size overlap=$overlap n=$n")
          assert(cs.last._2 == n, s"last chunk must end at n: $cs n=$n")
          // starts advance by exactly stride; consecutive chunks overlap
          cs.sliding(2).foreach {
            case Array((s1, e1), (s2, _)) =>
              assert(s2 - s1 == stride && s2 <= e1 + 1, s"gap: $cs")
            case _ =>
          }
        }
      }
    }
  }
}
