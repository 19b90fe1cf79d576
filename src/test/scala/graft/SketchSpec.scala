package graft

import org.apache.spark.sql.functions._

/** Sketch aggregates (SketchAggregates.HllDistinct / KllQuantiles):
 *  accuracy against known cardinalities/ranks, determinism, partial-merge
 *  across partitions, and the SQL registration surface. */
class SketchSpec extends SparkSpec {

  test("hll estimates 100k distinct longs within the 3-sigma bound, deterministically") {
    val df = spark.range(0, 100000).selectExpr("id % 50000 AS k")
    val est = df.agg(graft.functions.SketchAggregates.hllDistinct(col("k")))
      .head().getLong(0)
    // precision 12: sigma = 1.04/64 ~ 1.63%; 3 sigma ~ 4.9%
    math.abs(est - 50000L).toDouble / 50000 should be < 0.049
    // deterministic: fixed hash seed + order-free max-merge
    val again = df.repartition(13)
      .agg(graft.functions.SketchAggregates.hllDistinct(col("k")))
      .head().getLong(0)
    again shouldBe est
  }

  test("hll small-range linear counting is near-exact and null-safe") {
    import spark.implicits._
    val vals: Seq[Option[Long]] = (1 to 300).map(i => Some((i % 97).toLong)) :+ None
    val df = vals.toDF("k")
    val est = df.agg(graft.functions.SketchAggregates.hllDistinct(col("k")))
      .head().getLong(0)
    est shouldBe (97L +- 2L)
  }

  test("kll median of a shuffled range lands within the rank budget, merged across partitions") {
    val n = 200000
    // deterministic shuffle: bit-mixed order, values 1..n
    val df = spark.range(0, n)
      .selectExpr(s"CAST((id * 48271) % $n AS DOUBLE) AS v")
      .repartition(11)
    val qs = df.agg(graft.functions.SketchAggregates
        .kllQuantiles(col("v"), Seq(0.25, 0.5, 0.9)))
      .head().getSeq[Double](0)
    qs.length shouldBe 3
    // values are the permuted 0..n-1, so value ~ rank: check directly
    math.abs(qs(0) / n - 0.25) should be < 0.02
    math.abs(qs(1) / n - 0.5) should be < 0.02
    math.abs(qs(2) / n - 0.9) should be < 0.02
    // estimates are non-decreasing in rank
    qs(0) should be <= qs(1)
    qs(1) should be <= qs(2)
  }

  test("sketches are callable from SQL via the registry and extension builders") {
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.range(0, 10000).selectExpr("id % 1234 AS k", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("sk_in")
    val h = spark.sql("SELECT graft_hll(k) AS d FROM sk_in").head().getLong(0)
    math.abs(h - 1234L).toDouble / 1234 should be < 0.05
    val q = spark.sql(
      "SELECT graft_kll(v, array(CAST(0.5 AS DOUBLE)), 100) AS qs FROM sk_in")
      .head().getSeq[Double](0)
    math.abs(q.head / 10000 - 0.5) should be < 0.03
    // builder misuse is an immediate, clear error
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_kll(v, array(v)) FROM sk_in").collect()
    }
    ex.getMessage should include("literal")
  }

  test("every native function resolves through GraftExtensions and through registerSystemUdfs") {
    import graft.functions.UdfRegistry
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    def registered(s: SparkSession) = {
      val registry = org.apache.spark.sql.GraftSqlBridge.functionRegistry(s)
      UdfRegistry.nativeFunctions.map { case (name, _, _) =>
        name -> registry.lookupFunction(FunctionIdentifier(name)) }.toMap
    }
    def assertAll(s: SparkSession): Unit =
      for ((name, cls, _) <- UdfRegistry.nativeFunctions)
        withClue(name) { s.catalog.getFunction(name).className shouldBe cls.getName }
    UdfRegistry.nativeFunctions.map(_._1).distinct.size shouldBe
      UdfRegistry.nativeFunctions.size
    // registry path, on a session that resolves none of them yet
    val fresh = spark.newSession()
    all(registered(fresh).values) shouldBe None
    UdfRegistry.registerSystemUdfs(fresh)
    assertAll(fresh)
    // a second registration on the same session replaces nothing
    val infos = registered(fresh)
    UdfRegistry.registerSystemUdfs(fresh)
    for ((name, info) <- registered(fresh)) withClue(name) { info.get should be theSameInstanceAs infos(name).get }
    // extension path: a session built with GraftExtensions on the same context
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
      }
    ext should not be theSameInstanceAs(spark)
    assertAll(ext)
  }

  test("hll states persist to parquet, reload, and merge to the exact same estimate") {
    import graft.functions.SketchAggregates
    // per-shard states written as a binary column, read back in a fresh
    // frame, folded — must equal the single-pass estimate of the union,
    // exactly (max-merge is associative/commutative/idempotent)
    val df = spark.range(0, 60000).selectExpr("id % 37000 AS k", "id % 5 AS shard")
    val direct = df.agg(SketchAggregates.hllDistinct(col("k"))).head().getLong(0)
    val dir = tmpDir("hll_states")
    df.groupBy(col("shard")).agg(SketchAggregates.hllState(col("k")).as("st"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(SketchAggregates.hllMerge(col("st"))).head().getLong(0)
    merged shouldBe direct
    // overlapping re-merge (idempotence): folding the states TWICE over
    // (union of both frames) changes nothing
    val twice = spark.read.parquet(dir).unionAll(spark.read.parquet(dir))
      .agg(SketchAggregates.hllMerge(col("st"))).head().getLong(0)
    twice shouldBe direct
    // SQL surface
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.read.parquet(dir).createOrReplaceTempView("hll_states")
    spark.sql("SELECT graft_hll_merge(st) AS d FROM hll_states")
      .head().getLong(0) shouldBe direct
    // mixed precisions fail loudly
    val mixed = df.agg(SketchAggregates.hllState(col("k"), 10).as("st"))
      .unionAll(df.agg(SketchAggregates.hllState(col("k"), 12).as("st")))
    val ex = intercept[Exception] {
      mixed.agg(SketchAggregates.hllMerge(col("st"))).head()
    }
    ex.getMessage should include("mixed register sizes")
  }

  test("kll states persist to parquet, reload, and merge within the rank budget") {
    import graft.functions.SketchAggregates
    val n = 120000
    val df = spark.range(0, n)
      .selectExpr(s"CAST((id * 48271) % $n AS DOUBLE) AS v", "id % 6 AS shard")
    val dir = tmpDir("kll_states")
    df.groupBy(col("shard")).agg(SketchAggregates.kllState(col("v")).as("st"))
      .write.mode("overwrite").parquet(dir)
    val qs = spark.read.parquet(dir)
      .agg(SketchAggregates.kllMerge(col("st"), Seq(0.25, 0.5, 0.9)))
      .head().getSeq[Double](0)
    // values are the permuted 0..n-1, so value ~ rank
    math.abs(qs(0) / n - 0.25) should be < 0.025
    math.abs(qs(1) / n - 0.5) should be < 0.025
    math.abs(qs(2) / n - 0.9) should be < 0.025
    // SQL surface
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.read.parquet(dir).createOrReplaceTempView("kll_states")
    val viaSql = spark.sql(
      "SELECT graft_kll_merge(st, array(CAST(0.5 AS DOUBLE))) AS qs FROM kll_states")
      .head().getSeq[Double](0)
    math.abs(viaSql.head / n - 0.5) should be < 0.025
    // mixed k fails loudly
    val mixed = df.agg(SketchAggregates.kllState(col("v"), 64).as("st"))
      .unionAll(df.agg(SketchAggregates.kllState(col("v"), 128).as("st")))
    val ex = intercept[Exception] {
      mixed.agg(SketchAggregates.kllMerge(col("st"), Seq(0.5))).head()
    }
    ex.getMessage should include("mixed k")
  }

  test("property: hll sharding is invisible — merged shard sketches equal the single pass") {
    import graft.functions.SketchAggregates.HllDistinct
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import org.scalacheck.Gen
    // driver-side: exercise the aggregate object directly on many random
    // multisets and random shardings — no Spark jobs, hundreds of cases
    val agg = HllDistinct(BoundReference(0, LongType, nullable = true), 12)
    def sketch(vals: Seq[Long]): Array[Byte] =
      vals.foldLeft(agg.createAggregationBuffer()) { (b, v) => agg.update(b, InternalRow(v)) }
    val gen = for {
      n <- Gen.choose(1, 5000)
      dom <- Gen.choose(1, 3000)
      shards <- Gen.choose(1, 7)
      seed <- Gen.choose(1, Int.MaxValue)
    } yield (n, dom, shards, seed)
    Iterator.continually(gen.sample).flatten.take(60).foreach { case (n, dom, shards, seed) =>
      val rnd = new scala.util.Random(seed)
      val vals = Seq.fill(n)(rnd.nextInt(dom).toLong)
      val whole = agg.eval(sketch(vals)).asInstanceOf[Long]
      val parts = vals.grouped(math.max(1, n / shards)).map(sketch).toSeq
      val merged = agg.eval(
        parts.reduce((a, b) => agg.merge(a, b))).asInstanceOf[Long]
      withClue(s"n=$n dom=$dom shards=$shards seed=$seed") {
        merged shouldBe whole // order-free max-merge: EXACT
        val truth = vals.distinct.size.toLong
        math.abs(whole - truth).toDouble should be <= math.max(3.0, truth * 0.05)
      }
    }
  }

  test("property: kll rank error stays within budget across random multisets and shardings") {
    import graft.functions.SketchAggregates.KllBuffer
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(10, 20000)
      dom <- Gen.choose(5, 10000)
      shards <- Gen.choose(1, 6)
      seed <- Gen.choose(1, Int.MaxValue)
    } yield (n, dom, shards, seed)
    Iterator.continually(gen.sample).flatten.take(40).foreach { case (n, dom, shards, seed) =>
      val rnd = new scala.util.Random(seed)
      val vals = Array.fill(n)(rnd.nextInt(dom).toDouble)
      val parts = vals.grouped(math.max(1, n / shards)).map { chunk =>
        val b = new KllBuffer(200)
        chunk.foreach(b.insert)
        b
      }.toSeq
      val merged = parts.reduce { (a, b) => a.mergeIn(b); a }
      val sorted = vals.sorted
      for (phi <- Seq(0.1, 0.5, 0.9)) {
        val est = merged.quantiles(Seq(phi)).head
        // exact rank of the estimate (duplicates: most permissive range)
        val lo = sorted.count(_ < est).toDouble / n
        val hi = sorted.count(_ <= est).toDouble / n
        withClue(s"n=$n dom=$dom shards=$shards seed=$seed phi=$phi est=$est") {
          (phi >= lo - 0.035 && phi <= hi + 0.035) shouldBe true
        }
      }
    }
  }

  test("kll state survives serialize/deserialize round-trip exactly") {
    val agg = graft.functions.SketchAggregates.KllQuantiles(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0), Seq(0.5), 64)
    val buf = agg.createAggregationBuffer()
    (1 to 5000).foreach(i => buf.insert(((i * 48271) % 5000).toDouble))
    val back = agg.deserialize(agg.serialize(buf))
    back.quantiles(Seq(0.1, 0.5, 0.9)).toSeq shouldBe buf.quantiles(Seq(0.1, 0.5, 0.9)).toSeq
    back.compactions shouldBe buf.compactions
  }

  test("bloom: no false negatives ever, false positives rare, deterministic") {
    import graft.functions.SketchAggregates._
    val members = spark.range(0, 20000).selectExpr("CONCAT('m', id) AS s")
    val state = members.agg(bloomState(col("s"), 1 << 20, 5).as("bf"))
    // every inserted value probes true — partition layout must not matter
    members.repartition(11).crossJoin(broadcast(state))
      .filter(!bloomContains(col("bf"), col("s")))
      .count() shouldBe 0L
    // disjoint probe set: fp rate well under 1% at 20k/1M-bit load
    val strangers = spark.range(0, 20000).selectExpr("CONCAT('x', id) AS s")
    val fp = strangers.crossJoin(broadcast(state))
      .filter(bloomContains(col("bf"), col("s"))).count()
    fp.toDouble / 20000 should be < 0.01
    // deterministic: the state is a fixed byte array for a given dataset
    val b1 = state.head().getAs[Array[Byte]](0)
    val b2 = members.repartition(7)
      .agg(bloomState(col("s"), 1 << 20, 5).as("bf")).head().getAs[Array[Byte]](0)
    b1 should contain theSameElementsInOrderAs b2
  }

  test("bloom: sharded states OR-merge to the byte-identical single-pass state, via parquet") {
    import graft.functions.SketchAggregates._
    val df = spark.range(0, 10000).selectExpr("id % 7 AS shard", "CONCAT('v', id) AS s")
    val single = df.agg(bloomState(col("s"), 1 << 17, 4).as("bf"))
      .head().getAs[Array[Byte]](0)
    val dir = tmpDir("bloom_states")
    df.groupBy(col("shard")).agg(bloomState(col("s"), 1 << 17, 4).as("st"))
      .write.parquet(s"$dir/states")
    // new frame, new session lineage: reload and fold in one aggregate
    val merged = spark.read.parquet(s"$dir/states")
      .agg(bloomMerge(col("st")).as("bf")).head().getAs[Array[Byte]](0)
    merged should contain theSameElementsInOrderAs single
    // mixed parameters fail loudly, not silently
    val bad = spark.range(0, 10).selectExpr("CONCAT('v', id) AS s")
      .agg(bloomState(col("s"), 1 << 16, 4).as("st"))
      .unionAll(spark.read.parquet(s"$dir/states").select(col("st")))
    val ex = intercept[Exception] { bad.agg(bloomMerge(col("st"))).collect() }
    ex.getMessage should include("incompatible")
  }

  test("bottomk: per-group sample equals the window reference, stable across partitioning") {
    import graft.functions.SketchAggregates._
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 5000).selectExpr("id % 7 AS grp", "id AS v")
    def sampleOf(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      d.groupBy(col("grp")).agg(bottomK(col("v"), 4).as("s")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val agg = sampleOf(df)
    // reference: rank every row by the same oracle hash, keep 4 per group
    val ref = df.withColumn("h", graft.ml.Hashing.oracleHash(col("v").cast("string")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rk") <= 4).orderBy(col("grp"), col("h")).collect()
      .groupBy(_.getLong(0)).map { case (g, rows) => g -> rows.map(_.getLong(1).toString).toSeq }
    agg shouldBe ref
    // partitioning-invariant (union-then-trim merge is order-free)
    sampleOf(df.repartition(23)) shouldBe agg
    // duplicates don't perturb the sample (distinct-set semantics)
    sampleOf(df.unionAll(df)) shouldBe agg
  }

  test("bottomk: SQL surface and state serde round-trip") {
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.range(0, 1000).selectExpr("CAST(id AS STRING) AS v")
      .createOrReplaceTempView("bk_in")
    val viaSql = spark.sql("SELECT graft_bottomk(v, 3) AS s FROM bk_in")
      .head().getSeq[String](0)
    viaSql.length shouldBe 3
    val viaApi = spark.table("bk_in")
      .agg(graft.functions.SketchAggregates.bottomK(col("v"), 3)).head().getSeq[String](0)
    viaSql shouldBe viaApi
    // serde round-trip preserves the buffer exactly
    val agg = graft.functions.SketchAggregates.BottomKSample(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val buf = agg.createAggregationBuffer()
    (1 to 100).foreach(i => buf.insert(s"v$i"))
    val back = agg.deserialize(agg.serialize(buf))
    back.entries shouldBe buf.entries
    back.k shouldBe buf.k
  }

  test("topk_pairs: equals the window reference, position is the rank, partition-invariant") {
    import graft.functions.SketchAggregates._
    import org.apache.spark.sql.expressions.Window
    // ties on the value (v % 9) force the id ASC tie-break to matter
    val df = spark.range(0, 5000).selectExpr("id % 7 AS grp", "id % 9 AS v", "id")
    def topOf(d: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Long)] =
      d.groupBy(col("grp")).agg(topKPairs(col("v"), col("id"), 4).as("tk"))
        .select(col("grp"), posexplode(col("tk")).as(Seq("pos", "p")))
        .collect().map(r => (r.getLong(0), r.getInt(1) + 1) ->
          (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1))).toMap
    val agg = topOf(df)
    val ref = df.withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v").desc, col("id"))))
      .filter(col("rk") <= 4).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getLong(2))).toMap
    agg shouldBe ref
    topOf(df.repartition(23)) shouldBe agg
    // identical duplicate pairs collapse (distinct pair-set semantics)
    topOf(df.unionAll(df)) shouldBe agg
  }

  test("topk_pairs: SQL surface and state serde round-trip") {
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.range(0, 1000).selectExpr("id % 5 AS v", "id")
      .createOrReplaceTempView("tkp_in")
    val viaSql = spark.sql("SELECT graft_topk_pairs(v, id, 3) AS tk FROM tkp_in")
      .head().getSeq[org.apache.spark.sql.Row](0)
    viaSql.length shouldBe 3
    // best-first: value DESC then id ASC — v=4 first appears at id 4
    viaSql.head.getLong(0) shouldBe 4L
    viaSql.head.getLong(1) shouldBe 4L
    val viaApi = spark.table("tkp_in")
      .agg(graft.functions.SketchAggregates.topKPairs(col("v"), col("id"), 3))
      .head().getSeq[org.apache.spark.sql.Row](0)
    viaSql shouldBe viaApi
    val agg = graft.functions.SketchAggregates.TopKPairs(
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 8)
    val buf = agg.createAggregationBuffer()
    (1 to 100).foreach(i => buf.insert(i % 13L, i.toLong))
    val back = agg.deserialize(agg.serialize(buf))
    back.entries.toArray.toSeq.map(_.asInstanceOf[Array[Long]].toSeq) shouldBe
      buf.entries.toArray.toSeq.map(_.asInstanceOf[Array[Long]].toSeq)
    back.k shouldBe buf.k
  }

  test("cms: never undercounts, overcount within eps*N, deterministic across partitioning") {
    import graft.functions.SketchAggregates._
    // zipfish multiset: value v appears ~20000/v times
    val df = spark.range(0, 20000).selectExpr("CAST(1 + id % 40 AS STRING) AS v")
      .unionAll(spark.range(0, 5000).selectExpr("'1' AS v"))
    val exact = df.groupBy(col("v")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = df.count()
    val state = df.agg(cmsState(col("v"), 5, 256).as("cms"))
    val ests = df.select(col("v")).distinct().crossJoin(broadcast(state))
      .select(col("v"), cmsCount(col("cms"), col("v")).as("est")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = math.ceil(2.72 * n / 256).toLong
    for ((v, ex) <- exact) withClue(v) {
      ests(v) should be >= ex
      ests(v) should be <= ex + bound
    }
    // deterministic: fixed seeds + commutative sum-merge
    val again = df.repartition(17).agg(cmsState(col("v"), 5, 256).as("cms"))
      .head().getAs[Array[Byte]](0)
    state.head().getAs[Array[Byte]](0) should contain theSameElementsInOrderAs again
  }

  test("cms: sharded states sum-merge to the byte-identical single-pass state, via parquet") {
    import graft.functions.SketchAggregates._
    val df = spark.range(0, 8000).selectExpr("id % 5 AS shard", "CAST(id % 300 AS STRING) AS v")
    val single = df.agg(cmsState(col("v"), 4, 128).as("cms")).head().getAs[Array[Byte]](0)
    val dir = tmpDir("cms_states")
    df.groupBy(col("shard")).agg(cmsState(col("v"), 4, 128).as("st"))
      .write.parquet(s"$dir/states")
    val merged = spark.read.parquet(s"$dir/states")
      .agg(cmsMerge(col("st")).as("cms")).head().getAs[Array[Byte]](0)
    merged should contain theSameElementsInOrderAs single
    // mixed depth/width fails loudly
    val bad = spark.range(0, 10).selectExpr("CAST(id AS STRING) AS v")
      .agg(cmsState(col("v"), 4, 256).as("st"))
      .unionAll(spark.read.parquet(s"$dir/states").select(col("st")))
    val ex = intercept[Exception] { bad.agg(cmsMerge(col("st"))).collect() }
    ex.getMessage should include("incompatible")
  }

  test("cms: SQL surface and empty-state estimate") {
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.range(0, 3000).selectExpr("CAST(id % 10 AS STRING) AS v")
      .createOrReplaceTempView("cms_in")
    val est = spark.sql(
      """SELECT graft_cms_count(
        |  (SELECT graft_cms_state(v, 5, 512) FROM cms_in), '3') AS c""".stripMargin)
      .head().getLong(0)
    est should be >= 300L
    est should be <= 300L + math.ceil(2.72 * 3000 / 512).toLong
    val empty = spark.sql(
      """SELECT graft_cms_count(
        |  (SELECT graft_cms_merge(st) FROM
        |    (SELECT graft_cms_state(v) AS st FROM cms_in WHERE 1 = 0) t), '3') AS c""".stripMargin)
      .head().getLong(0)
    empty shouldBe 0L
  }

  test("bloom: SQL surface (graft_bloom_state / _merge / _contains) and empty-state probe") {
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    spark.range(0, 1000).selectExpr("CONCAT('k', id) AS s")
      .createOrReplaceTempView("bl_in")
    val hit = spark.sql(
      """SELECT graft_bloom_contains(
        |  (SELECT graft_bloom_state(s, 65536, 4) FROM bl_in), 'k42') AS c""".stripMargin)
      .head().getBoolean(0)
    hit shouldBe true
    // merge identity (no states) probes false for everything
    val empty = spark.sql(
      """SELECT graft_bloom_contains(
        |  (SELECT graft_bloom_merge(st) FROM
        |    (SELECT graft_bloom_state(s) AS st FROM bl_in WHERE 1 = 0) t), 'k42') AS c""".stripMargin)
      .head().getBoolean(0)
    empty shouldBe false
  }
}
