package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{Multimodal, Variant}

class TextAndVariantSpec extends SparkSpec {

  lazy val docs: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the cat sat on the mat"),
      (2L, "el gato es un animal y la casa es grande"),
      (3L, "mat the on sat cat the"), // same tokens as 1, different order
      (4L, "one two")
    ).toDF("doc_id", "text")
  }

  test("shingles: sliding word n-grams, distinct, empty below n tokens") {
    val sh = docs.select(col("doc_id"), Text.shingles(Text.tokens(col("text")), 3).as("sh"))
      .orderBy("doc_id").collect()
    assert(sh(0).getSeq[String](1).contains("the cat sat"))
    assert(sh(0).getSeq[String](1).size == 4) // 6 tokens -> 4 trigrams, all distinct
    assert(sh(3).getSeq[String](1).isEmpty) // 2 tokens < n=3
  }

  test("fingerprint is order-sensitive and deterministic") {
    val fp = docs.select(col("doc_id"), Text.fingerprint(Text.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) != fp(3L)) // same tokens, different order
    val fp2 = docs.select(Text.fingerprint(Text.tokens(col("text"))).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp2.toSet == fp.values.toSet) // stable across runs
    assert(fp.values.forall(v => v >= 0 && v < Text.P))
  }

  test("langId picks the dominant stopword language") {
    val l = docs.select(col("doc_id"), Text.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(l(1L) == "en" && l(2L) == "es" && l(4L) == "und")
  }

  test("token and subword counts") {
    val c = docs.where(col("doc_id") === 1)
      .select(Text.tokenCount(col("text")), Text.subwordCount(col("text"))).first()
    assert(c.getInt(0) == 6 && c.getInt(1) == 6)
    val s = spark; import s.implicits._
    val punct = Seq(("a1!", 0)).toDF("text", "x")
      .select(Text.subwordCount(col("text"))).first().getInt(0)
    assert(punct == 3) // "a", "1", "!"
  }

  test("qualityScore is in (0, 1] and rewards diversity") {
    val q = docs.select(col("doc_id"), Text.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v > 0 && v <= 1.0))
  }

  test("qualityScoreNano equals round(qualityScore*1e9) away from half-ulp boundaries") {
    // the integer-exact rational form must agree with the legacy double
    // round everywhere the double isn't within ~an ulp of a .5 nano
    // boundary; on the real testdata no doc sits on a boundary, so the
    // agreement is exact — and the nano form is what c35 aggregates
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = real.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("source", lit("inline")), allowMissingColumns = true)
      .select(
        round(Text.qualityScore(col("text")) * lit(1.0e9)).cast("long").as("legacy"),
        Text.qualityScoreNano(col("text")).as("nano"))
    assert(cmp.where(col("legacy") =!= col("nano")).count() === 0)
    // and the nano form is bounded like the score itself
    assert(cmp.where(col("nano") < 0 || col("nano") > 1000000000L).count() === 0)
  }

  test("union2 tagged struct: exactly one branch non-null; case/cast") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "t", "v")
      .withColumn("u", Variant.union2(when(col("t") === "x", 0).otherwise(1),
        col("v"), col("id") * 100))
    val r1 = df.where(Variant.isCase(col("u"), 0))
      .select(Variant.castCase(col("u"), 0), Variant.castCase(col("u"), 1)).first()
    assert(r1.getDouble(0) == 10.0 && r1.isNullAt(1))
    val r2 = df.where(Variant.isCase(col("u"), 1))
      .select(Variant.castCase(col("u"), 1)).first()
    assert(r2.getLong(0) == 200L)
  }

  test("unionN: 3-way tagged union — one branch non-null per row, case/cast") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0)).toDF("id", "t", "v")
      .withColumn("u", Variant.unionN(
        when(col("t") === "x", 0).when(col("t") === "y", 1).otherwise(2),
        col("v"), col("id") * 100, col("t")))
    // exactly one possibility non-null on every row
    val nonNull = df.select(
      (Variant.castCase(col("u"), 0).isNotNull.cast("int") +
        Variant.castCase(col("u"), 1).isNotNull.cast("int") +
        Variant.castCase(col("u"), 2).isNotNull.cast("int")).as("nn"))
    assert(nonNull.where(col("nn") =!= 1).count() == 0)
    val r2 = df.where(Variant.isCase(col("u"), 2))
      .select(Variant.castCase(col("u"), 2)).first()
    assert(r2.getString(0) == "z")
    intercept[IllegalArgumentException] { Variant.unionN(lit(0)) }
  }

  test("fixedDims: passes declared shapes, raises on ragged rows") {
    val s = spark; import s.implicits._
    val ok = Seq(Seq(1f, 2f, 3f)).toDF("v")
      .select(graft.operators.Nested.fixedDims(col("v"), Seq(3)).as("v"))
    assert(ok.first().getSeq[Float](0) == Seq(1f, 2f, 3f))
    // 2x2 nested tensor passes; ragged inner row raises
    val ok2 = Seq(Seq(Seq(1f, 2f), Seq(3f, 4f))).toDF("m")
      .select(graft.operators.Nested.fixedDims(col("m"), Seq(2, 2)).as("m"))
    assert(ok2.count() == 1)
    def raggedFails(df: org.apache.spark.sql.DataFrame, dims: Seq[Int]): Unit = {
      val e = intercept[Exception] {
        df.select(graft.operators.Nested.fixedDims(col("c"), dims)).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("fixedDims")), e.toString)
    }
    raggedFails(Seq(Seq(1f, 2f), Seq(1f)).toDF("c"), Seq(2))
    raggedFails(Seq(Seq(Seq(1f, 2f), Seq(3f))).toDF("c"), Seq(2, 2))
  }

  test("normalize/denormalize roundtrip is lossless; dim table deduplicates") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "en", "web", 10), (2L, "en", "web", 20),
      (3L, "es", "book", 30), (4L, "en", "book", 40)
    ).toDF("id", "lang", "source", "x")
    val (fact, dim) = Variant.normalize(df, Seq("lang", "source"), "k")
    assert(dim.count() == 3) // (en,web), (es,book), (en,book)
    assert(fact.columns.toSet == Set("id", "x", "k"))
    val back = Variant.denormalize(fact, dim, "k")
      .select("id", "lang", "source", "x")
    assert(back.orderBy("id").collect().toSeq ==
      df.select("id", "lang", "source", "x").orderBy("id").collect().toSeq)
  }

  test("gather resolves pointer column via join, preserves left rows") {
    val s = spark; import s.implicits._
    val src = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("id", "ptr")
    val target = Seq((10L, "a"), (11L, "b")).toDF("key", "name")
    val g = Variant.gather(src, "ptr", target, "key")
      .orderBy("id").collect()
    assert(g.length == 3)
    assert(g(0).getString(3) == "a" && g(2).isNullAt(3)) // dangling pointer -> null
  }

  test("frame sampling: chunk boundaries, short payloads, feature sums") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "abcdefgh".getBytes("UTF-8")),   // len 8, k=4 -> q=2, 4 frames
      (2L, "xyz".getBytes("UTF-8")),        // len 3 -> q=1, 3 frames (4th empty)
      (3L, Array.emptyByteArray)            // no frames
    ).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "id", "payload", 4)
      .select(col("media_id"), col("frame_idx"), col("features.n_bytes"), col("features.byte_sum"))
      .orderBy("media_id", "frame_idx").collect()
    assert(frames.count(_.getLong(0) == 1L) == 4)
    assert(frames.count(_.getLong(0) == 2L) == 3)
    assert(frames.count(_.getLong(0) == 3L) == 0)
    val f10 = frames.find(r => r.getLong(0) == 1L && r.getInt(1) == 0).get
    assert(f10.getLong(2) == 2 && f10.getLong(3) == 'a'.toLong + 'b'.toLong)
    // frames tile the payload: total bytes add up
    assert(frames.filter(_.getLong(0) == 1L).map(_.getLong(2)).sum == 8)
    // k must be positive (k=0 would divide by zero in the stride math)
    intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(df, "id", "payload", 0)
    }
  }

  test("schema JSON roundtrip preserves nested types, nullability, metadata") {
    val s = spark; import s.implicits._
    val df = Fixtures.events.toDF()
      .withColumn("tagged", struct(col("eventId").as("k")))
    val named = graft.operators.Nested.recordname(df, "tagged", "Tagged")
    val json = graft.sources.SchemaJson.toJson(named)
    val back = graft.sources.SchemaJson.fromJson(json)
    assert(back == named.schema)
    assert(back("tagged").metadata.getString("graft.recordname") == "Tagged")
    assert(back("muons").dataType.typeName == "array")
  }

  test("recursive pointer schemas: tree traversal via iterative gather") {
    // oamap encodes trees with self-referential Pointer schemas; Spark has
    // no recursive types, so the ingest convention is an adjacency table +
    // gather per level (SURVEY §1.2/§4.2). Three-level org chart:
    val s = spark; import s.implicits._
    val org = Seq((1L, None: Option[Long], "ceo"), (2L, Some(1L), "vp"),
      (3L, Some(2L), "eng"), (4L, Some(2L), "eng2")).toDF("id", "mgr", "name")
    val up1 = Variant.gather(org, "mgr",
        org.select(col("id").as("m_id"), col("mgr").as("m_mgr")), "m_id")
    val up2 = Variant.gather(up1, "m_mgr",
        org.select(col("id").as("g_id"), col("name").as("g_name")), "g_id")
    val grands = up2.select(col("id"), col("g_name")).orderBy("id").collect()
    assert(grands.map(r => Option(r.getString(1))).toSeq ==
      Seq(None, None, Some("ceo"), Some("ceo")))
  }

  test("followChain resolves pointer chains to roots in O(log depth) rounds") {
    val s = spark; import s.implicits._
    // org chart: everyone's chain ends at the ceo
    val org = Seq((1L, None: Option[Long]), (2L, Some(1L)),
      (3L, Some(2L)), (4L, Some(2L))).toDF("id", "mgr")
    val roots = Variant.followChain(org, "id", "mgr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // 200-deep chain: plain iteration would need 200 joins; jumping needs 8
    val chain = (0L until 200L).map(i => (i, if (i == 0) None else Some(i - 1)))
      .toDF("id", "mgr")
    val deep = Variant.followChain(chain, "id", "mgr")
    assert(deep.where(col("root") =!= 0L).count() == 0)
    // dangling pointer: root is the (absent) target
    val dangling = Seq((1L, Some(99L)), (2L, None: Option[Long])).toDF("id", "mgr")
    val d = Variant.followChain(dangling, "id", "mgr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 99L, 2L -> 2L))
  }

  test("followChain throws on pointer cycles instead of looping forever") {
    val s = spark; import s.implicits._
    val cyc = Seq((1L, Some(2L)), (2L, Some(1L)), (3L, None: Option[Long]))
      .toDF("id", "mgr")
    intercept[IllegalStateException] {
      Variant.followChain(cyc, "id", "mgr", maxRounds = 6)
    }
  }

  test("media metadata struct carries size, mime, and checksum") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "hello".getBytes("UTF-8"))).toDF("id", "payload")
    val m = Multimodal.withMediaMetadata(df, "payload").select("media_meta.*").first()
    assert(m.getLong(0) == 5L)
    assert(m.getString(1) == "application/octet-stream")
    val crc = new java.util.zip.CRC32()
    crc.update("hello".getBytes("UTF-8"))
    assert(m.getLong(2) == crc.getValue)
  }

  test("JSON sink roundtrip with declared schema (write -> read, no inference)") {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-json").toString + "/out"
    val orig = Fixtures.events.toDF()
    orig.write.mode("overwrite").json(dir)
    val schemaJson = graft.sources.SchemaJson.toJson(orig)
    val back = graft.sources.SchemaJson.readJsonWithSchema(s, schemaJson, dir)
    // JSON sources force nullable=true on every field; structure must match
    def norm(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(
            st.fields.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
        case at: org.apache.spark.sql.types.ArrayType =>
          at.copy(elementType = norm(at.elementType), containsNull = true)
        case other => other
      }
    assert(norm(back.schema) == norm(orig.schema))
    assert(back.orderBy("eventId").collect().map(_.getLong(0)).toSeq ==
      orig.orderBy("eventId").collect().map(_.getLong(0)).toSeq)
    assert(back.select(explode(col("muons.pt"))).count() ==
      orig.select(explode(col("muons.pt"))).count())
  }

  test("count-min sketch: estimates never undercount; shard sketches merge cell-wise") {
    val s = spark; import s.implicits._
    import graft.functions.CountMin
    val words = Seq.fill(40)("hot") ++ (1 to 60).map(i => s"w${i % 17}")
    val toks = words.toDF("tok")
    val (d, w) = (4, 32) // narrow width to force real collisions
    val sketch = CountMin.build(toks, "tok", d, w)
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val est = CountMin.estimate(sketch, exact, "tok", d, w).join(exact, "tok")
    // one-sided error: est >= tf for EVERY token, deterministically
    assert(est.where(col("est") < col("tf")).isEmpty, "CMS undercounted")
    // the heavy hitter stays clearly separated despite collisions
    val hot = est.where(col("tok") === "hot").head()
    assert(hot.getAs[Long]("est") >= 40L)
    // mergeability: sketches of disjoint shards ADD to the full sketch
    val (sh1, sh2) = (words.take(50), words.drop(50))
    val merged = CountMin.build(sh1.toDF("tok"), "tok", d, w)
      .union(CountMin.build(sh2.toDF("tok"), "tok", d, w))
      .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(merged.except(sketch).isEmpty && sketch.except(merged).isEmpty,
      "cell-wise shard merge diverged from the single-pass sketch")
  }

  test("multimodal stub decode: features match manual computation") {
    val payload = "abcABC!".getBytes("UTF-8")
    val f = Multimodal.decodeStub(payload)
    assert(f.n_bytes == 7)
    assert(f.byte_sum == payload.map(_ & 0xff).sum)
    assert(f.h0 + f.h1 + f.h2 + f.h3 == 7)
    val s = spark; import s.implicits._
    val df = Seq((1L, payload)).toDF("id", "payload")
    val out = Multimodal.extractFeatures(df, "id", "payload").first()
    val feat = out.getStruct(1)
    assert(feat.getLong(0) == 7 && feat.getLong(1) == f.byte_sum)
  }

  // deterministic 8x5 RGB test pattern shared by the real-codec cases
  private def patRgb(x: Int, y: Int): (Int, Int, Int) =
    ((x * 31) % 256, (y * 57) % 256, ((x + y) * 13) % 256)

  private def patPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = patRgb(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real image decode (JDK codec): exact pixel sums off a generated PNG") {
    // the codec is REAL (javax.imageio), the assert is exact: every
    // feature is an integer sum over the decoded pixels, recomputed here
    // independently from the pattern the PNG was encoded from
    val (w, h) = (8, 5)
    val png = patPng(w, h)
    val f = Multimodal.decodeImage(png)
    val pix = for (y <- 0 until h; x <- 0 until w) yield patRgb(x, y)
    assert(f.ok && f.width == w && f.height == h)
    assert(f.r_sum == pix.map(_._1.toLong).sum)
    assert(f.g_sum == pix.map(_._2.toLong).sum)
    assert(f.b_sum == pix.map(_._3.toLong).sum)
    val hist = new Array[Long](4)
    pix.foreach { case (r, g, b) => hist(((r + g + b) / 3) >> 6) += 1 }
    assert(Seq(f.l0, f.l1, f.l2, f.l3) == hist.toSeq &&
      f.l0 + f.l1 + f.l2 + f.l3 == w.toLong * h)
    // distributed plumbing: decodable + corrupt payloads side by side —
    // an undecodable blob is data (ok=false), never an executor exception
    val s = spark; import s.implicits._
    val df = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload")
    val rows = Multimodal.extractImageFeatures(df, "id", "payload")
      .orderBy("media_id").collect()
    assert(rows(0).getStruct(1).getBoolean(0) &&
      rows(0).getStruct(1).getLong(3) == f.r_sum)
    assert(!rows(1).getStruct(1).getBoolean(0))
  }

  test("real image resize: nearest-neighbor pixels are exact after PNG re-decode") {
    // output pixels must equal src(x*sw div tw, y*sh div th) — the
    // explicit integer mapping documented as JVM-independent; asserted by
    // re-decoding the resized PNG (lossless) pixel by pixel
    val (sw, sh, tw, th) = (8, 5, 4, 3)
    val resized = Multimodal.resizeImagePng(patPng(sw, sh), tw, th)
    assert(resized.isDefined)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.get))
    assert(img.getWidth == tw && img.getHeight == th)
    for (y <- 0 until th; x <- 0 until tw) {
      val (r, g, b) = patRgb(x * sw / tw, y * sh / th)
      assert((img.getRGB(x, y) & 0xffffff) == ((r << 16) | (g << 8) | b),
        s"pixel ($x,$y) diverged from the nearest-neighbor rule")
    }
    assert(Multimodal.resizeImagePng("junk".getBytes("UTF-8"), 2, 2).isEmpty)
  }

  test("real WAV decode (JDK codec): exact PCM amplitude sum and format fields") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val samples = Seq[Short](0, 1000, -1000, 32767, -32768, 12345)
    val pcm = new Array[Byte](samples.length * 2) // 16-bit LE mono
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, samples.length),
      AudioFileFormat.Type.WAVE, bos)
    val f = Multimodal.decodeWavPcm(bos.toByteArray)
    assert(f.ok && f.n_frames == 6 && f.channels == 1 && f.rate_hz == 8000)
    assert(f.amp_abs_sum == samples.map(v => math.abs(v.toLong)).sum)
    assert(!Multimodal.decodeWavPcm("not audio".getBytes("UTF-8")).ok)
    // stereo: frameSize = 4, samples walk per-channel but frames count
    // per-frame — 2 frames, 4 samples
    val st = Seq[Short](100, -200, 300, -400)
    val pcm2 = new Array[Byte](st.length * 2)
    st.zipWithIndex.foreach { case (v, i) =>
      pcm2(2 * i) = (v & 0xff).toByte; pcm2(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val bos2 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm2),
        new AudioFormat(8000f, 16, 2, true, false), 2),
      AudioFileFormat.Type.WAVE, bos2)
    val f2 = Multimodal.decodeWavPcm(bos2.toByteArray)
    assert(f2.ok && f2.n_frames == 2 && f2.channels == 2 && f2.amp_abs_sum == 1000L)
    // distributed plumbing over the same payloads
    val s = spark; import s.implicits._
    val df = Seq((1L, bos.toByteArray)).toDF("id", "payload")
    val row = Multimodal.extractAudioFeatures(df, "id", "payload").first()
    assert(row.getStruct(1).getBoolean(0) &&
      row.getStruct(1).getLong(4) == f.amp_abs_sum)
  }
}
