package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.engine.AlertPipeline
import graft.rules.ReferenceCorpus

/** Streaming-semantics tests (SURVEY §5 item 4, §2.9) over MemoryStream —
  * no Kafka in the container; the logical plan is identical to the Kafka
  * path because the pipeline middle is a pure DataFrame => DataFrame. */
class StreamingSpec extends SparkSpec {

  private def json(uuid: String, target: String): String =
    s"""{"computer_name":"pc1","event_id":10,"host":"h","uuid":"$uuid",""" +
      s""""event_data":{"TargetImage":"$target",""" +
      s""""SourceImage":"C:\\\\Windows\\\\system32\\\\wsmprovhost.exe"}}"""

  test("streaming fan-out: rules evaluate per micro-batch, bad JSON dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val raw = mem.toDF().toDF("value", "timestamp")
    val alerts = AlertPipeline.alerts(
      AlertPipeline.parseJson(raw), Seq(ReferenceCorpus.mimikatzWinrm))
    val q = alerts.writeStream.format("memory").queryName("alerts_t1")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(
        (json("u1", "C:\\\\Windows\\\\System32\\\\lsass.exe"), t0),
        (json("u2", "C:\\\\Windows\\\\System32\\\\notepad.exe"), t0),
        ("garbage{{", t0))
      q.processAllAvailable()
      val out = spark.table("alerts_t1").collect()
      assert(out.length == 1)
      assert(out(0).getAs[Row]("event").getAs[scala.collection.Seq[String]]("origin_ids").toSeq == Seq("u1"))
    } finally q.stop()
  }

  test("timeframe rule: windowed count with watermark, update-on-threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("computer_name", "host", "uuid", "timestamp")
      .withColumn("event_id", lit(10L))
      .withColumn("event_data", struct(lit("UNKNOWN(1)").as("CallTrace")))
    val rule = TimeframeRules.TimeframeRule(
      ReferenceCorpus.directSyscall, "10 minutes", 3L, "computer_name")
    val alerts = TimeframeRules.alerts(
      src.withWatermark("timestamp", "5 seconds"), rule,
      f => if (f == "CallTrace") col("event_data.CallTrace") else lit(null))
    val q = alerts.writeStream.format("memory").queryName("tf_t1")
      .outputMode("update").start()
    try {
      def ts(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")
      // 3 events for pc1 inside one 10-min window; only 2 for pc2
      mem.addData(
        ("pc1", "h", "a1", ts(1, 0)), ("pc1", "h", "a2", ts(2, 0)),
        ("pc2", "h", "b1", ts(3, 0)), ("pc2", "h", "b2", ts(4, 0)),
        ("pc1", "h", "a3", ts(5, 0)))
      q.processAllAvailable()
      val out = spark.table("tf_t1").collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("computer_name") == "pc1")
      val event = out(0).getAs[Row]("event")
      assert(event.getAs[Long]("count") == 3L)
      assert(event.getAs[scala.collection.Seq[String]]("origin_ids").toSeq == Seq("a1", "a2", "a3"))
      assert(event.getAs[java.sql.Timestamp]("start").toString == "2024-01-01 00:00:00.0")
      assert(event.getAs[java.sql.Timestamp]("end").toString == "2024-01-01 00:10:00.0")
    } finally q.stop()
  }

  test("statement-set shape: one query fans out to N sinks via foreachBatch (S7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val raw = mem.toDF().toDF("value", "timestamp")
    val alerts = AlertPipeline.alerts(
      AlertPipeline.parseJson(raw), Seq(ReferenceCorpus.mimikatzWinrm))
    val out1 = java.nio.file.Files.createTempDirectory("graft-sink1").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-sink2").toString
    val q = AlertPipeline.foreachBatchFanOut(alerts, Seq(
        b => b.select("computer_name", "host").write.mode("append").parquet(out1),
        b => b.select(col("rule.name")).write.mode("append").parquet(out2)))
      .start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData((json("u1", "C:\\\\Windows\\\\System32\\\\lsass.exe"), t0))
      q.processAllAvailable()
      assert(spark.read.parquet(out1).count() == 1)
      assert(spark.read.parquet(out2).collect()(0).getString(0)
        == "Mimikatz through Windows Remote Management")
    } finally q.stop()
  }

  test("S7 both shapes, same YAML dir + file source: union plan and multi-sink fan-out emit identical alert multisets") {
    // the reference's statement set has two Spark mappings: ONE query with
    // a UNION ALL plan (alerts) and ONE query fanned out to N sinks per
    // micro-batch (foreachBatchFanOut). Same compiled YAML rules, same
    // replayed file-source input => the alert MULTISETS must be identical
    // (bag semantics: an event matching k rules appears k times).
    val rules = graft.compile.RuleCompiler.compileDir("src/test/resources/sigma")
    assert(rules.nonEmpty)
    val in = java.nio.file.Files.createTempDirectory("graft-s7-in").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/events.json"),
      Seq(
        // fires cmdkey (event_id 1 + Image + CommandLine)
        """{"computer_name":"pc1","event_id":1,"host":"h1","uuid":"e-1","event_data":{"Image":"C:\\Windows\\System32\\cmdkey.exe","CommandLine":"cmdkey /list"}}""",
        // fires lazagne
        """{"computer_name":"pc2","event_id":1,"host":"h2","uuid":"e-2","event_data":{"Image":"C:\\tools\\lazagne.exe","CommandLine":"lazagne.exe all"}}""",
        // benign
        """{"computer_name":"pc3","event_id":1,"host":"h3","uuid":"e-3","event_data":{"Image":"C:\\Windows\\System32\\notepad.exe","CommandLine":"notepad"}}""")
        .mkString("\n").getBytes("UTF-8"))
    def fileSource = graft.engine.Sources.source(spark,
      Map("source.type" -> "files", "source.path" -> in))
    def key(r: Row): (String, String, String) =
      (r.getAs[Row]("rule").getAs[String]("name"),
        r.getAs[Row]("event").getAs[scala.collection.Seq[String]]("origin_ids").mkString(","),
        r.getAs[String]("computer_name"))

    // shape 1: union plan into one sink
    val q1 = AlertPipeline.alerts(fileSource, rules)
      .writeStream.format("memory").queryName("s7_union")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // shape 2: merged dispatch fanned out to two sinks per micro-batch
    val sink1 = java.nio.file.Files.createTempDirectory("graft-s7-sink1").toString
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q2 = AlertPipeline.foreachBatchFanOut(
        AlertPipeline.alertsMerged(fileSource, rules), Seq(
          b => b.select("computer_name", "host").write.mode("append").parquet(sink1),
          b => b.collect().foreach(collected.add)))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q1.awaitTermination(60000)
      q2.awaitTermination(60000)
      val unionAlerts = spark.table("s7_union").collect().map(key).toSeq.sorted
      val fanoutAlerts = collected.toArray(Array.empty[Row]).map(key).toSeq.sorted
      assert(unionAlerts.nonEmpty, "planted events must fire")
      assert(unionAlerts == fanoutAlerts,
        s"shapes diverged: union=$unionAlerts fanout=$fanoutAlerts")
      // the second sink of the fan-out saw the same batch
      assert(spark.read.parquet(sink1).count() == fanoutAlerts.size)
    } finally { q1.stop(); q2.stop() }
  }

  test("e2e ingest chain: JSON admission -> at-ingest dedup -> detection, ONE query (r12 stretch #7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one query graph: parse(PERMISSIVE, corrupt dropped) -> watermark ->
    // bounded-state uuid dedup -> merged rule dispatch. No foreachBatch,
    // no intermediate sink — the full admission-to-alert path the
    // reference runs as separate jobs, as a single Spark streaming plan.
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    // the LIBRARY chain builder (same plan the r12 test built inline);
    // MemoryStream declares no numPartitions → conf left untouched
    val chain = AlertPipeline.ingestChain(
      mem.toDF().toDF("value", "timestamp"), ReferenceCorpus.active)
    val q = chain
      .select(col("event.origin_ids")(0).as("uuid"), col("rule.name").as("rule"))
      .writeStream.format("memory").queryName("e2e_chain_t1")
      .outputMode("append").start()
    val cmdkey = (u: String) =>
      s"""{"computer_name":"pc1","event_id":1,"host":"h","uuid":"$u",""" +
        s""""event_data":{"CommandLine":"cmdkey /list",""" +
        s""""Image":"C:\\\\Windows\\\\System32\\\\cmdkey.exe"}}"""
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(
        (cmdkey("e1"), t0),            // fires cmdkeyRecon
        (cmdkey("e1"), t0),            // same-batch duplicate: dedup eats it
        ("{not json", t0),             // admission drops it
        (json("e2", """C:\\x\\benign.exe"""), t0)) // admitted, fires nothing
      q.processAllAvailable()
      mem.addData(
        (cmdkey("e1"), t0),            // cross-batch duplicate: state eats it
        (cmdkey("e3"), t0))            // distinct event fires again
      q.processAllAvailable()
      val alerts = spark.table("e2e_chain_t1").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(alerts == Seq(
        ("e1", "Cmdkey Cached Credentials Recon"),
        ("e3", "Cmdkey Cached Credentials Recon")), alerts.toString)
    } finally q.stop()
  }

  test("startIngestChain sizes state to source parallelism, scoped to the query (r15)") {
    import graft.ops.Detection
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      // a source that declares its parallelism (rate, numPartitions=5)
      val stream = spark.readStream.format("rate")
        .option("rowsPerSecond", "2000").option("numPartitions", "5").load()
        .select(col("value").as("event_id"), col("timestamp").as("ts"))
      val jsonified = Detection.nestedFrom(Detection.synthFrom(stream))
        .select(
          to_json(struct(col("computer_name"), col("event_id"), col("host"),
            col("event_data"), col("uuid"))).as("value"),
          col("timestamp"))
      assert(AlertPipeline.sourcePartitions(jsonified).contains(5))
      // building the chain is PURE — no session mutation (r14 advisor: the
      // old build-time conf set silently re-sized co-resident batch work)
      AlertPipeline.ingestChain(jsonified, ReferenceCorpus.active)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "32")
      val q = AlertPipeline.startIngestChain(jsonified, ReferenceCorpus.active)(
        _.writeStream.format("noop").outputMode("append"))
      try {
        // the session conf is already restored by the time start() returns…
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "32",
          "startIngestChain leaked the shuffle-partitions override")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while ((q.lastProgress == null || q.lastProgress.stateOperators.isEmpty ||
            q.lastProgress.stateOperators(0).numShufflePartitions == 0)
            && System.nanoTime() < deadline) Thread.sleep(100)
        // …and the dedup store still RUNS at the source's 5, not the batch 32
        assert(q.lastProgress.stateOperators(0).numShufflePartitions == 5L,
          s"state ran at ${q.lastProgress.stateOperators(0).numShufflePartitions}")
      } finally q.stop()
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "32")
      // a source with undeclared parallelism starts under the session conf
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, java.sql.Timestamp)]
      val raw = mem.toDF().toDF("value", "timestamp")
      assert(AlertPipeline.sourcePartitions(raw).isEmpty)
      // an explicit statePartitions wins over the (absent) source hint and
      // is likewise scoped: conf unchanged after start
      val q2 = AlertPipeline.startIngestChain(raw, ReferenceCorpus.active,
        statePartitions = Some(7))(
        _.writeStream.format("noop").outputMode("append"))
      try {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "32")
        mem.addData(("{not json", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        q2.processAllAvailable()
        assert(q2.lastProgress.stateOperators(0).numShufflePartitions == 7L,
          s"state ran at ${q2.lastProgress.stateOperators(0).numShufflePartitions}")
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("streaming exact dedup: dropDuplicates on uuid within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = mem.toDF().toDF("uuid", "timestamp")
      .withWatermark("timestamp", "10 seconds")
      .dropDuplicates("uuid")
    val q = deduped.writeStream.format("memory").queryName("dedup_t1")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData(("u1", t0), ("u2", t0), ("u1", t0)) // duplicate u1 in-batch
      q.processAllAvailable()
      mem.addData(("u1", t0), ("u3", t0)) // duplicate across batches, still in state
      q.processAllAvailable()
      val uuids = spark.table("dedup_t1").collect().map(_.getString(0)).sorted
      assert(uuids.toSeq == Seq("u1", "u2", "u3"))
    } finally q.stop()
  }

  test("streaming near-dup dedup: LSH bucket state flags cross-batch near-duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val hits = StreamingDedup.nearDupHits(mem.toDF().toDF("doc_id", "text"))
    val q = hits.writeStream.format("memory").queryName("neardup_t1")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog and runs far away home"
      mem.addData((1L, base), (2L, "completely different words about spark engines and parquet files here"))
      q.processAllAvailable()
      assert(spark.table("neardup_t1").count() == 0) // nothing similar yet
      // near-duplicate of doc 1 arrives two batches later: append mutation
      mem.addData((3L, base + " zz0"))
      q.processAllAvailable()
      val out = spark.table("neardup_t1").select("doc_id", "dup_of")
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.nonEmpty && out.forall(_ == (3L, 1L)), out.toSeq.toString)
    } finally q.stop()
  }

  test("ingest quality gates: streaming admission is identical to the batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real corpus rows through both paths — the gates must agree doc-for-doc
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val batchDocs = rows.toDF("doc_id", "source", "text")
    val gatedBatch = IngestFilters.classifierGate(batchDocs)
    // the domain decision table is the versioned batch artifact both
    // paths consume
    val decisions = IngestFilters.domainDecisions(gatedBatch)
    val batchOut = IngestFilters.domainGate(gatedBatch, decisions)
      .select("doc_id", "n_tokens", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the classifier must actually gate something, and the domain table
    // must carry both decisions, or this proves nothing
    assert(batchOut.size < rows.size, "classifier+domain gates dropped nothing")
    assert(decisions.collect().map(_.getBoolean(1)).toSet.size >= 1)
    val mem = MemoryStream[(Long, String, String)]
    val streamOut = IngestFilters.domainGate(
      IngestFilters.classifierGate(mem.toDF().toDF("doc_id", "source", "text")),
      decisions)
    val q = streamOut.select("doc_id", "n_tokens", "score").writeStream
      .format("memory").queryName("ingest_gates_t1").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.size / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*) // micro-batch boundaries must not change admission
      q.processAllAvailable()
      val got = spark.table("ingest_gates_t1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batchOut, s"stream admitted ${got.size}, batch ${batchOut.size}")
    } finally q.stop()
  }

  test("streaming cluster routing: arrivals assign to stored centroids exactly as the batch query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the batch query builds (and memoizes) the centroid artifact; its
    // output is the ground truth the ingest path must reproduce
    val batchOut = graft.ops.Similarity.queries("sim_cluster_assign")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(batchOut.nonEmpty)
    val cents = graft.engine.Tables.cachedFrame(spark, dir, "knn_cluster_centarr")(
        sys.error("centroid artifact must already be memoized"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(cents.size > 1, "need multiple clusters for routing to mean anything")
    val probes = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = IngestFilters.clusterAssign(
        mem.toDF().toDF("vec_id", "embedding"), cents)
      .select("vec_id", "cluster", "dist_r")
      .writeStream.format("memory").queryName("cluster_route_t1")
      .outputMode("append").start()
    try {
      val (a, b) = probes.splitAt(probes.size / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      val got = spark.table("cluster_route_t1").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(got == batchOut,
        s"stream routed ${got.size} vectors, batch ${batchOut.size}; must be identical")
    } finally q.stop()
  }

  test("streaming winnowing: arrivals probe the static fingerprint index, batch ≡ stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60).localCheckpoint()
    // the stored index: the base corpus's fingerprint postings (static)
    val postings = base
      .select(col("doc_id"), explode(expr("winnow_fps(split(text, ' '))")).as("fp"))
      .localCheckpoint()
    // arrivals: near-dup copies of every 3rd base doc
    val arrivals = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zz0 zz1")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batchOut = StreamingDedup.winnowHits(
        arrivals.toDF("doc_id", "text"), postings)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(batchOut.nonEmpty)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.winnowHits(mem.toDF().toDF("doc_id", "text"), postings)
      .writeStream.format("memory").queryName("winnow_hits_t1")
      .outputMode("append").start()
    try {
      val (a, b) = arrivals.splitAt(arrivals.size / 2)
      mem.addData(a: _*)
      q.processAllAvailable()
      mem.addData(b: _*)
      q.processAllAvailable()
      val got = spark.table("winnow_hits_t1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == batchOut, s"stream emitted ${got.size} hits, batch ${batchOut.size}")
    } finally q.stop()
    // every long-enough arrival hits its own source doc through the index
    val byPair = batchOut.groupBy(h => (h._1, h._2)).view.mapValues(_.size).toMap
    arrivals.filter(_._2.split(" ").length >= 30).foreach { case (id, _) =>
      assert(byPair.getOrElse((id, id - 100000L), 0) >= 2,
        s"arrival $id should share >=2 fingerprints with its source")
    }
  }

  test("file-source end-to-end job: JSON-lines dir → rule fan-out → parquet sink") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    java.nio.file.Files.writeString(inDir.resolve("events.json"),
      json("u1", "C:\\\\Windows\\\\System32\\\\lsass.exe") + "\n" +
        json("u2", "C:\\\\Windows\\\\System32\\\\calc.exe") + "\n" +
        "not-json\n")
    val conf = Map(
      "source.type" -> "files", "source.path" -> inDir.toString,
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt)
    val q = AlertPipeline.start(spark, Seq(ReferenceCorpus.mimikatzWinrm), conf)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 1)
    assert(out.select("event.origin_ids").collect()(0)
      .getAs[scala.collection.Seq[String]](0).toSeq == Seq("u1"))
  }

  test("availableNow trigger drains the file source and self-terminates (bounded replay)") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-an-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-an-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-an-ckpt").toString
    java.nio.file.Files.writeString(inDir.resolve("events.json"),
      json("u1", "C:\\\\Windows\\\\System32\\\\lsass.exe") + "\n")
    val conf = Map(
      "source.type" -> "files", "source.path" -> inDir.toString,
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt,
      "trigger" -> "availableNow")
    val q = AlertPipeline.start(spark, Seq(ReferenceCorpus.mimikatzWinrm), conf)
    try assert(q.awaitTermination(120000), "availableNow query did not self-terminate")
    finally if (q.isActive) q.stop()
    assert(spark.read.parquet(outDir).count() == 1)
  }

  test("start deploys the merged dispatch: one source scan, no Union, the union fan-out's alert bag") {
    // jobs.Main's default deployment over a files source, with the 25
    // active rules. Planted: an event firing >= 2 rules, its duplicate
    // (start has no dedup, so it must alert twice), an event firing
    // nothing and a malformed line.
    val rules = ReferenceCorpus.active
    val inDir = java.nio.file.Files.createTempDirectory("graft-dep-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-dep-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dep-ckpt").toString
    val multi = """{"computer_name":"pc1","event_id":10,"host":"h1","uuid":"m-1",""" +
      """"event_data":{"TargetImage":"C:\\Windows\\System32\\lsass.exe","GrantedAccess":"0x1410",""" +
      """"SourceImage":"C:\\evil\\dump.exe","CallTrace":"UNKNOWN(1)|UNKNOWN(2)"}}"""
    val none = """{"computer_name":"pc2","event_id":10,"host":"h2","uuid":"n-1",""" +
      """"event_data":{"TargetImage":"C:\\x\\calc.exe","CallTrace":"C:\\x.dll+1"}}"""
    java.nio.file.Files.writeString(inDir.resolve("events.json"),
      Seq(multi, none, "{not json", multi).mkString("", "\n", "\n"))
    val conf = Map(
      "source.type" -> "files", "source.path" -> inDir.toString,
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt,
      "trigger" -> "availableNow")
    val q = AlertPipeline.start(spark, rules, conf)
    try assert(q.awaitTermination(120000), "availableNow query did not self-terminate")
    finally if (q.isActive) q.stop()

    // the deployed shape: one streaming source relation and no Union, so
    // each trigger scans and parses the input once, not once per rule
    val plan = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.logicalPlan
    assert(plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty,
      plan.treeString)
    assert(plan.collectLeaves().count(_.isStreaming) == 1, plan.treeString)

    // the same lines through the reference union shape, in batch. Event
    // times on the files source are processing time, so they are checked
    // for shape (start = end = time, non-null), not value.
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select(to_json(struct(col("computer_name"), col("host"),
        col("event").dropFields("start", "end", "time"), col("threat"), col("rule"))))
        .collect().map(_.getString(0)).sorted.toSeq
    val sink = spark.read.parquet(outDir)
    val batch = AlertPipeline.alerts(AlertPipeline.parseJson(
      spark.read.text(inDir.toString).withColumn("timestamp", current_timestamp())), rules)
    val deployed = canon(sink)
    assert(deployed == canon(batch), s"deployed=$deployed")
    val multiAlerts = deployed.count(_.contains("\"m-1\""))
    assert(multiAlerts >= 4 && multiAlerts % 2 == 0, s"m-1 alerted $multiAlerts times")
    assert(!deployed.exists(_.contains("\"n-1\"")))
    assert(sink.filter(col("event.start").isNull ||
      col("event.start") =!= col("event.end") ||
      col("event.end") =!= col("event.time")).isEmpty)
  }

  test("mixed Sigma repo deploys as ONE combined query: compileDirAll -> startCombined (r15)") {
    // the full user story the r14 verdict asked for: a rule repo with a
    // real correlation rule deploys without hand-building TimeframeRules
    val graft.compile.RuleCompiler.CompiledRepo(stateless, timeframed, _) =
      graft.compile.RuleCompiler.compileDirAll("src/test/resources/sigma")
    assert(stateless.nonEmpty && timeframed.nonEmpty)
    val in = java.nio.file.Files.createTempDirectory("graft-comb-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-comb-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-comb-ckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/events.json"),
      Seq(
        """{"computer_name":"pc1","event_id":1,"host":"h1","uuid":"e-1","event_data":{"Image":"C:\\Windows\\System32\\cmdkey.exe","CommandLine":"cmdkey /list"}}""",
        """{"computer_name":"pc3","event_id":1,"host":"h3","uuid":"e-3","event_data":{"Image":"C:\\Windows\\System32\\notepad.exe","CommandLine":"notepad"}}""")
        .mkString("\n").getBytes("UTF-8"))
    val conf = Map(
      "source.type" -> "files", "source.path" -> in,
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt,
      // the files sink requires append; finalized-window battery semantics
      // under append are pinned by TimeframeBatterySpec — here the
      // stateless alerts prove the combined TOPOLOGY end to end
      "outputMode" -> "append", "trigger" -> "availableNow")
    val q = graft.engine.AlertPipeline.startCombined(spark, stateless, timeframed, conf)
    try assert(q.awaitTermination(120000), "availableNow combined query did not terminate")
    finally if (q.isActive) q.stop()
    // the battery contributed its stateful aggregation to the plan
    assert(q.lastProgress.stateOperators.length == 1,
      s"expected the tf battery's state operator, got ${q.lastProgress.stateOperators.length}")
    val out = spark.read.parquet(outDir)
    // the sink schema is the reference's 5-column alert row — the SAME
    // schema start() writes, so enabling --extended cannot change the
    // contract of an existing sink (advisor r15); rule identity at the
    // sink is rule.name
    assert(out.columns.toSeq ==
      Seq("computer_name", "host", "event", "threat", "rule"))
    val rows = out.select(col("rule.name"), col("event.origin_ids")(0),
      col("rule.severity")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set(("Cmdkey Cached Credentials Recon", "e-1", 5)), rows.toString)
  }

  test("timeframe-ONLY repo deploys through startCombined: no zero-rule dispatch branch (advisor r15)") {
    // stateless empty: the combined plan must be the battery ALONE — the
    // previous shape unioned a zero-predicate RuleDispatch battery in,
    // exercising an untested empty-literal codegen edge
    import spark.implicits._
    import graft.streaming.TimeframeRules.TimeframeRule
    val tf = Seq(TimeframeRule(
      graft.rules.ReferenceCorpus.cmdkeyRecon, "1 seconds", 2L, "computer_name"))
    // batch side: a stateless-empty combined plan carries NO Union node
    // (single battery branch) and yields exactly the battery's alerts
    val batch = Seq(
      ("pc1", 1L, "h1", "t-1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      ("pc1", 1L, "h1", "t-2", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("computer_name", "event_id", "host", "uuid", "timestamp")
      .withColumn("event_data", struct(
        lit("C:\\Windows\\System32\\cmdkey.exe").as("Image"),
        lit("cmdkey /list").as("CommandLine")))
    val combined = graft.engine.AlertPipeline.alertsCombined(batch, Seq.empty, tf)
    assert(combined.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "stateless-empty combined plan must not union a zero-rule dispatch branch")
    val rows = combined.select(col("rule_name"), col("event.count"),
      to_json(col("event.origin_ids"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq(("Cmdkey Cached Credentials Recon", 2L, """["t-1","t-2"]""")),
      rows.toString)
    // streaming side: the deployment entry point runs the battery-only
    // topology end to end (one state operator, reference 5-col sink
    // schema once a window finalizes — ingest-time windows, so a second
    // availableNow run past the watermark bound closes run 1's window)
    val in = java.nio.file.Files.createTempDirectory("graft-tfonly-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-tfonly-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tfonly-ckpt").toString
    def cmdkeyJson(uuid: String, cn: String): String =
      s"""{"computer_name":"$cn","event_id":1,"host":"h1","uuid":"$uuid","event_data":{"Image":"C:\\\\Windows\\\\System32\\\\cmdkey.exe","CommandLine":"cmdkey /list"}}"""
    val conf = Map(
      "source.type" -> "files", "source.path" -> in,
      "source.maxFilesPerTrigger" -> "1",
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt,
      "outputMode" -> "append", "trigger" -> "availableNow")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch1.json"),
      Seq(cmdkeyJson("t-1", "pc1"), cmdkeyJson("t-2", "pc1"))
        .mkString("\n").getBytes("UTF-8"))
    val q1 = graft.engine.AlertPipeline.startCombined(spark, Seq.empty, tf, conf)
    try assert(q1.awaitTermination(120000)) finally if (q1.isActive) q1.stop()
    assert(q1.lastProgress.stateOperators.length == 1)
    Thread.sleep(7000) // ingest-time watermark (5s) must clear run 1's 1s window
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch2.json"),
      cmdkeyJson("noise-1", "pc9").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch3.json"),
      cmdkeyJson("noise-2", "pc9").getBytes("UTF-8"))
    val q2 = graft.engine.AlertPipeline.startCombined(spark, Seq.empty, tf, conf)
    try assert(q2.awaitTermination(120000)) finally if (q2.isActive) q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.columns.toSeq ==
      Seq("computer_name", "host", "event", "threat", "rule"))
    val emitted = out.select(col("rule.name"), col("event.count"),
      to_json(col("event.origin_ids"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(emitted == Set(("Cmdkey Cached Credentials Recon", 2L, """["t-1","t-2"]""")),
      emitted.toString)
    // and both classes empty is a loud caller error, not a broken plan
    intercept[IllegalArgumentException] {
      graft.engine.AlertPipeline.alertsCombined(
        spark.emptyDataFrame, Seq.empty, Seq.empty)
    }
  }

  /** A 2-step ordered chain (A → B) over a watermarked PairEvent stream
    * under event-time state expiry: the correlator a 2-ref
    * `temporal_ordered` rule deploys, without alertsFor's sysmon
    * projection. */
  private def orderedPair(mem: MemoryStream[SequenceRules.PairEvent], gapUs: Long,
      watermarkDelay: String) = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[SequenceRules.PairEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        SequenceRules.correlateChain(gapUs, n = 2, expire = true))
  }

  test("sequence correlation: A-state persists across micro-batches (flatMapGroupsWithState)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SequenceRules.{ChainMatch, PairEvent}
    val mem = MemoryStream[PairEvent]
    val alerts = orderedPair(mem, gapUs = 60000000L, watermarkDelay = "10 seconds")
    val q = alerts.writeStream.format("memory").queryName("seq_t1")
      .outputMode("append").start()
    try {
      // batch 1: an A on pc1 (stored in state), a B on pc2 with no prior A
      mem.addData(PairEvent("pc1", 1000000L, 0, "e1", "h1"),
        PairEvent("pc2", 1000000L, 1, "e2", "h2"))
      q.processAllAvailable()
      assert(spark.table("seq_t1").count() == 0)
      // batch 2: B on pc1 29s after the batch-1 A → correlates FROM STATE
      mem.addData(PairEvent("pc1", 30000000L, 1, "e3", "h1"))
      q.processAllAvailable()
      val out = spark.table("seq_t1").as[ChainMatch].collect()
      assert(out.toSeq == Seq(
        ChainMatch("pc1", "h1", 1000000L, 30000000L, Seq("e1", "e3"))))
      assert(out.head.end_ts_us - out.head.start_ts_us == 29000000L)
      // batch 3: B beyond the gap → no new alert
      mem.addData(PairEvent("pc1", 120000000L, 1, "e4", "h1"))
      q.processAllAvailable()
      assert(spark.table("seq_t1").count() == 1)
    } finally q.stop()
  }

  test("chain correlation: ordered 3-step chain completes across micro-batches (r17)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SequenceRules.{ChainMatch, PairEvent}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val mem = MemoryStream[PairEvent]
    val matches = mem.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        SequenceRules.correlateChain(gapUs = 100000000L, n = 3))
    val q = matches.writeStream.format("memory").queryName("chain_t1")
      .outputMode("append").start()
    try {
      // batch 1: steps 0 and 1 on h1 (the prefix persists in state); a
      // step-1 on h2 with no head builds nothing
      mem.addData(
        PairEvent("h1", 1000000L, 0, "u-a", "host1"),
        PairEvent("h1", 2000000L, 1, "u-b", "host1"),
        PairEvent("h2", 2000000L, 1, "u-x", "host2"))
      q.processAllAvailable()
      assert(spark.table("chain_t1").count() == 0)
      // batch 2: a step-2 on h1 completes the chain FROM STATE (uuids in
      // rule order, span = head..now); h2's step-2 has no valid prefix
      mem.addData(
        PairEvent("h1", 50000000L, 2, "u-c", "host1"),
        PairEvent("h2", 50000000L, 2, "u-y", "host2"))
      q.processAllAvailable()
      val out = spark.table("chain_t1").as[ChainMatch].collect().toSeq
      assert(out == Seq(
        ChainMatch("h1", "host1", 1000000L, 50000000L, Seq("u-a", "u-b", "u-c"))))
      // batch 3: a step-2 beyond the head-anchored gap (150s - 1s > 100s)
      // matches nothing — the span anchors at the chain HEAD, not the
      // previous step
      mem.addData(PairEvent("h1", 150000000L, 2, "u-d", "host1"))
      q.processAllAvailable()
      assert(spark.table("chain_t1").count() == 1)
    } finally q.stop()
  }

  test("sequence-correlator state expires once the watermark passes the gap; in-gap pairs still match across the boundary (r18)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SequenceRules.{ChainMatch, PairEvent}
    val mem = MemoryStream[PairEvent]
    // gap 20s, zero-delay watermark: the 2-step chain runs under
    // EventTimeTimeout, its key's timeout armed at (latest A + gap)
    val alerts = orderedPair(mem, gapUs = 20000000L, watermarkDelay = "0 seconds")
    val q = alerts.writeStream.format("memory").queryName("seq_exp")
      .outputMode("append").start()
    try {
      // batch 1: an A on k-stale at t=10s → one state row; wm := 10s
      mem.addData(PairEvent("k-stale", 10000000L, 0, "e1", "hs"))
      q.processAllAvailable()
      // batch 2: a B on k-stale at t=25s pairs FROM STATE across the
      // boundary (gap 15s ≤ 20s — the timeout, armed for t=30s, has not
      // fired yet); an A on k-live at t=100s; wm := 100s afterwards
      mem.addData(PairEvent("k-stale", 25000000L, 1, "e2", "hs"),
        PairEvent("k-live", 100000000L, 0, "e3", "hl"))
      q.processAllAvailable()
      assert(spark.table("seq_exp").as[ChainMatch].collect().toSeq ==
        Seq(ChainMatch("k-stale", "hs", 10000000L, 25000000L, Seq("e1", "e2"))))
      // batch 3 runs with wm=100s, past k-stale's timeout (A@10s + gap
      // 20s): the stale key's state DROPS; k-live still pairs its own B
      mem.addData(PairEvent("k-live", 110000000L, 1, "e4", "hl"))
      q.processAllAvailable()
      assert(spark.table("seq_exp").count() == 2)
      val st = q.lastProgress.stateOperators
      assert(st.length == 1 && st(0).numRowsTotal == 1) // only k-live survives
      // batch 4: a LATE B on k-stale inside what was the gap window — the
      // state is gone (and the row is behind the watermark): no alert
      mem.addData(PairEvent("k-stale", 28000000L, 1, "e5", "hs"))
      q.processAllAvailable()
      assert(spark.table("seq_exp").count() == 2)
    } finally q.stop()
  }

  test("any-order correlation: 3 refs complete in any order across micro-batches, stale keys expire (r18)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SequenceRules.{ChainMatch, PairEvent}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val mem = MemoryStream[PairEvent]
    val matches = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[PairEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        SequenceRules.correlateAnyOrder(gapUs = 100000000L, n = 3, expire = true))
    val q = matches.writeStream.format("memory").queryName("any_t1")
      .outputMode("append").start()
    try {
      // batch 1: kinds 2 and 0 land OUT of document order on h1 (slots
      // park); a lone kind-1 on h2 parks a slot that will go stale
      mem.addData(
        PairEvent("h1", 1000000L, 2, "u-c", "host1"),
        PairEvent("h1", 2000000L, 0, "u-a", "host1"),
        PairEvent("h2", 2000000L, 1, "u-x", "host2"))
      q.processAllAvailable()
      assert(spark.table("any_t1").count() == 0)
      // batch 2: kind 1 completes h1 FROM STATE — uuids in RULE order,
      // span = oldest slot .. this event (49s ≤ 100s gap)
      mem.addData(PairEvent("h1", 50000000L, 1, "u-b", "host1"))
      q.processAllAvailable()
      assert(spark.table("any_t1").as[ChainMatch].collect().toSeq == Seq(
        ChainMatch("h1", "host1", 1000000L, 50000000L, Seq("u-a", "u-b", "u-c"))))
      // batches 3-4: far-future h1 events walk the watermark past h2's
      // (slot + gap) timeout → h2's parked slot expires; h1 re-arms and
      // survives (its span 399s > gap also emits nothing new)
      mem.addData(PairEvent("h1", 400000000L, 0, "u-d", "host1"))
      q.processAllAvailable()
      mem.addData(PairEvent("h1", 410000000L, 0, "u-e", "host1"))
      q.processAllAvailable()
      assert(spark.table("any_t1").count() == 1)
      val st = q.lastProgress.stateOperators
      assert(st.length == 1 && st(0).numRowsTotal == 1) // h2 expired; h1 alive
    } finally q.stop()
  }

  test("compiled temporal rule deploys with event-time expiry: watermarked sysmon source under EventTimeTimeout (r18)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (computer_name, host, uuid, event_id, CommandLine, TargetImage, timestamp)
    val mem = MemoryStream[(String, String, String, Long, String, String, java.sql.Timestamp)]
    val src = mem.toDF()
      .toDF("computer_name", "host", "uuid", "event_id", "cl", "ti", "timestamp")
      .withColumn("event_data",
        struct(col("cl").as("CommandLine"), col("ti").as("TargetImage")))
      .drop("cl", "ti")
      .withWatermark("timestamp", "0 seconds")
    // the compiled Sigma `temporal` artifact (cmdkey recon + lsass access
    // per computer_name within 12h) — the same rule tf_correlation_temporal
    // oracle-checks in batch, here running the streaming expiry path
    val alerts = SequenceRules.alertsFor(src, graft.ops.Detection.compiledTemporalRule)
    val q = alerts.writeStream.format("memory").queryName("seq_dep")
      .outputMode("append").start()
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val lsass = "C:\\Windows\\System32\\lsass.exe"
    try {
      // batch 1: recon on pcA
      mem.addData(("pcA", "hA", "u1", 1L, "cmdkey /list", "", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // batch 2: lsass access on pcA 30 min later → ONE alert from state,
      // count=2, both uuids
      mem.addData(("pcA", "hA", "u2", 10L, "", lsass, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      val out = spark.table("seq_dep").collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("computer_name") == "pcA")
      assert(out(0).getAs[Row]("event").getAs[Long]("count") == 2L)
      // batches 3-4: pcB recon 26h later walks the watermark past pcA's
      // (last event + 12h gap) timeout → pcA's slots expire; pcB's fresh
      // state is the only survivor (proves EventTimeTimeout engaged, not
      // the NoTimeout fallback)
      mem.addData(("pcB", "hB", "u3", 1L, "cmdkey /list", "", ts("2024-01-02 02:30:00")))
      q.processAllAvailable()
      mem.addData(("pcB", "hB", "u4", 1L, "cmdkey /list", "", ts("2024-01-02 03:00:00")))
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st.length == 1 && st(0).numRowsTotal == 1)
      assert(spark.table("seq_dep").count() == 1)
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (§2.3 streaming joins)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(String, java.sql.Timestamp)]
    val memB = MemoryStream[(String, java.sql.Timestamp)]
    val a = memA.toDF().toDF("akey", "ats").withWatermark("ats", "10 seconds")
    val b = memB.toDF().toDF("bkey", "bts").withWatermark("bts", "10 seconds")
    val joined = a.join(b,
      col("akey") === col("bkey")
        && col("bts") >= col("ats")
        && col("bts") <= col("ats") + expr("INTERVAL 1 MINUTE"))
    val q = joined.writeStream.format("memory").queryName("ssj_t1")
      .outputMode("append").start()
    try {
      def ts(t: String) = java.sql.Timestamp.valueOf(t)
      memA.addData(("k1", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // one B inside the interval, one past it, one on a key with no A
      memB.addData(("k1", ts("2024-01-01 00:00:30")),
        ("k1", ts("2024-01-01 00:05:00")), ("k2", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      val out = spark.table("ssj_t1").collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("akey") == "k1")
    } finally q.stop()
  }

  test("restart from checkpoint resumes without duplicating processed input (T5)") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-rs-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-rs-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rs-ckpt").toString
    val conf = Map(
      "source.type" -> "files", "source.path" -> inDir.toString,
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt)
    java.nio.file.Files.writeString(inDir.resolve("batch1.json"),
      json("u1", "C:\\\\Windows\\\\System32\\\\lsass.exe") + "\n")
    val q1 = AlertPipeline.start(spark, Seq(ReferenceCorpus.mimikatzWinrm), conf)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).count() == 1)
    // second run, SAME checkpoint: only the new file may be processed
    java.nio.file.Files.writeString(inDir.resolve("batch2.json"),
      json("u2", "C:\\\\Windows\\\\System32\\\\lsass.exe") + "\n")
    val q2 = AlertPipeline.start(spark, Seq(ReferenceCorpus.mimikatzWinrm), conf)
    try q2.processAllAvailable() finally q2.stop()
    val uuids = spark.read.parquet(outDir)
      .select(org.apache.spark.sql.functions.element_at(col("event.origin_ids"), 1))
      .collect().map(_.getString(0)).sorted
    assert(uuids.toSeq == Seq("u1", "u2")) // u1 exactly once — offsets replayed, not re-read
  }

  test("combined query restarts from checkpoint: battery window state + min-K buffers restore (T5, r16)") {
    // The stateful-side restart the r15 verdict asked for: run 1 feeds a
    // PARTIAL window into startCombined's battery (RocksDB store — the
    // 100 TB state option — holding the windowed count and the
    // MinKCollect origin_ids buffer), stops, and run 2 restarts from the
    // SAME checkpoint. The window finalizes in run 2 and its count and
    // origin_ids must be exactly what a single uninterrupted run would
    // emit — possible only if run 1's aggregation state (including the
    // serialized min-K buffer) was restored, not recomputed: run 2 never
    // sees run 1's events (offsets are committed).
    import graft.streaming.TimeframeRules.TimeframeRule
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stateless = Seq(graft.rules.ReferenceCorpus.mimikatzWinrm)
    // 1-second window: the files source stamps event time at micro-batch
    // planning (ingest-time semantics), so run 2's batches — seconds
    // later — advance the watermark past run 1's window and finalize it
    val tf = Seq(TimeframeRule(
      graft.rules.ReferenceCorpus.cmdkeyRecon, "1 seconds", 2L, "computer_name"))
    val in = java.nio.file.Files.createTempDirectory("graft-crs-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-crs-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crs-ckpt").toString
    val conf = Map(
      "source.type" -> "files", "source.path" -> in,
      "source.maxFilesPerTrigger" -> "1", // one file per micro-batch: run 2's
      // second batch plans AFTER the first advanced the watermark, so the
      // finalized window emits deterministically (no no-data-batch reliance)
      "sink.type" -> "files", "sink.path" -> outDir, "checkpoint" -> ckpt,
      "outputMode" -> "append", "trigger" -> "availableNow")
    def cmdkey(uuid: String): String =
      s"""{"computer_name":"pc1","event_id":1,"host":"h1","uuid":"$uuid","event_data":{"Image":"C:\\\\Windows\\\\System32\\\\cmdkey.exe","CommandLine":"cmdkey /list"}}"""
    try {
      // run 1: one stateless hit + TWO battery events in one micro-batch
      // (one file = one batch = one shared ingest timestamp = one window)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch1.json"),
        (Seq(json("s-1", "C:\\\\Windows\\\\System32\\\\lsass.exe")) ++
          Seq(cmdkey("t-1"), cmdkey("t-2"))).mkString("\n").getBytes("UTF-8"))
      val q1 = graft.engine.AlertPipeline.startCombined(spark, stateless, tf, conf)
      try assert(q1.awaitTermination(120000)) finally if (q1.isActive) q1.stop()
      val afterRun1 = spark.read.parquet(outDir)
      // the stateless alert flowed through; the battery window is OPEN —
      // its count/min-K live only in the checkpointed state store
      assert(afterRun1.count() == 1)
      assert(afterRun1.select(col("event.origin_ids")(0)).head.getString(0) == "s-1")
      // run 2, SAME checkpoint, ≥7s later: ingest-time watermark (5s
      // bound) must clear run 1's 1s window so it can finalize
      Thread.sleep(7000)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch2.json"),
        cmdkey("t-3").getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch3.json"),
        s"""{"computer_name":"pc9","event_id":1,"host":"h9","uuid":"noise","event_data":{"Image":"x","CommandLine":"y"}}""".getBytes("UTF-8"))
      val q2 = graft.engine.AlertPipeline.startCombined(spark, stateless, tf, conf)
      try assert(q2.awaitTermination(120000)) finally if (q2.isActive) q2.stop()
      val out = spark.read.parquet(outDir)
      assert(out.columns.toSeq ==
        Seq("computer_name", "host", "event", "threat", "rule"))
      val battery = out.filter(col("event.count") >= 2)
        .select(col("rule.name"), col("event.count"),
          to_json(col("event.origin_ids"))).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      // exactly the single-run result: count spans run 1's two events,
      // origin_ids is run 1's serialized min-K buffer — restored intact
      assert(battery == Seq(("Cmdkey Cached Credentials Recon", 2L, """["t-1","t-2"]""")),
        battery.toString)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("late data beyond watermark is dropped in append mode (T3 semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("computer_name", "host", "uuid", "timestamp")
      .withColumn("event_id", lit(10L))
      .withColumn("event_data", struct(lit("UNKNOWN(1)").as("CallTrace")))
    val rule = TimeframeRules.TimeframeRule(
      ReferenceCorpus.directSyscall, "10 minutes", 1L, "computer_name")
    val alerts = TimeframeRules.alerts(
      src.withWatermark("timestamp", "5 seconds"), rule,
      f => if (f == "CallTrace") col("event_data.CallTrace") else lit(null))
    val q = alerts.writeStream.format("memory").queryName("tf_t2")
      .outputMode("append").start()
    try {
      def ts(t: String) = java.sql.Timestamp.valueOf(t)
      mem.addData(("pc1", "h", "a1", ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // advance watermark far past the first window
      mem.addData(("pc1", "h", "a2", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // late arrival for the long-closed first window: must be dropped
      mem.addData(("pc1", "h", "late", ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val finalized = spark.table("tf_t2").collect()
      assert(finalized.length == 1) // only the closed 00:00-00:10 window emitted
      assert(finalized(0).getAs[Row]("event")
        .getAs[scala.collection.Seq[String]]("origin_ids").toSeq == Seq("a1")) // without the late row
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("host_id", "event")
    // static dim (asset inventory): broadcastable, read once, joined into
    // every micro-batch without state — the standard enrichment shape
    val assets = Seq((1L, "dc", "critical"), (2L, "laptop", "low"))
      .toDF("host_id", "kind", "criticality")
    val enriched = stream.join(broadcast(assets), Seq("host_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").start()
    try {
      mem.addData((1L, "logon"), (2L, "logon"), (3L, "logon"))
      q.processAllAvailable()
      val out = spark.table("enrich_t").collect()
        .map(r => (r.getLong(0), Option(r.getString(3)).getOrElse("unknown"))).toSet
      assert(out == Set((1L, "critical"), (2L, "low"), (3L, "unknown")))
    } finally q.stop()
  }

  test("RocksDB state store provider: same windowed-count results as default") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the 100 TB state option: keyed state off-heap in RocksDB instead of
    // the HDFS-backed in-memory map — same query, same results, state
    // size no longer bounded by executor heap
    // provider is captured at query start: set it first
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val counts = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("uid"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("start_us"), col("uid"), col("n"))
    val q = counts.writeStream.format("memory").queryName("rocks_t")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-rocks").toString)
      .start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:06:00"), 1L),
        (ts("2024-01-01 00:07:00"), 2L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:00:00"), 9L)) // close window 0
      q.processAllAvailable()
      val out = spark.table("rocks_t").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(out == Set((1L, 2L), (2L, 1L)))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming curation: quality filter runs UPSTREAM of dedup-at-ingest") {
    // ordering matters: an unfiltered junk doc would claim LSH buckets and
    // a later good doc sharing its prefix would be dropped as the junk's
    // duplicate — the filter must gate what may own state
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val good = docs.filter(size(split(col("text"), " ")) >= 10)
    val q = graft.streaming.StreamingDedup.nearDupHits(good)
      .writeStream.format("memory").queryName("cur_t").outputMode("append").start()
    try {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      mem.addData((1L, base.split(" ").take(6).mkString(" "))) // junk: filtered out
      q.processAllAvailable()
      mem.addData((2L, base)) // good doc must be ADMITTED, not flagged vs junk
      q.processAllAvailable()
      mem.addData((3L, base + " lambda")) // true near-dup of 2
      q.processAllAvailable()
      val hits = spark.table("cur_t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((3L, 2L)), hits)
    } finally q.stop()
  }

  test("streaming top talkers: chained stateful aggs emit the closed window's top-3") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "uid")
    val q = TopTalkers.topK(df, "ts", "uid", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("toptalk")
      .outputMode("append").start()
    try {
      // window 00:00-01:00 counts: uid 2 → 3, uid 1 → 2, uid 4 → 2, uid 3 → 1
      mem.addData(
        (ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:06:00"), 1L),
        (ts("2024-01-01 00:07:00"), 2L), (ts("2024-01-01 00:10:00"), 2L),
        (ts("2024-01-01 00:11:00"), 2L), (ts("2024-01-01 00:20:00"), 3L),
        (ts("2024-01-01 00:30:00"), 4L), (ts("2024-01-01 00:31:00"), 4L))
      q.processAllAvailable()
      // advance the watermark past 01:00+10m to close the first window in
      // the count operator, then again so the top-k operator finalizes
      mem.addData((ts("2024-01-01 02:00:00"), 9L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 03:30:00"), 9L))
      q.processAllAvailable()
      val out = spark.table("toptalk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(out.nonEmpty, "no window finalized")
      val w0 = out.map(_._1).min
      // top-3 by (count DESC, uid ASC): uid 2 (3 events), then the 2-2 tie
      // between uids 1 and 4 breaks by id
      assert(out.filter(_._1 == w0).sortBy(_._2).toSeq ==
        Seq((w0, 1, 2L), (w0, 2, 1L), (w0, 3, 4L)), out.toSeq)
    } finally q.stop()
  }

  test("drift monitor: per-micro-batch cards equal batch cards; a skewed batch trips the alarm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(80).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // reference = the versioned batch-card artifact over the healthy corpus
    val ref = DriftMonitor.referenceFrom(rows.toDF("doc_id", "text"))
    val (a, b) = rows.splitAt(rows.size / 2)
    // batch 3 simulates an upstream regression: every page truncated
    val broken = (0 until 40).map(i => (9000L + i, "short doc only"))
    // drive the SAME code path per micro-batch via foreachBatch
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, String)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty) {
          val r = DriftMonitor.drift(DriftMonitor.card(df), ref).collect()(0)
          seen += ((r.getAs[Long]("docs"), r.getAs[Long]("tokens"),
            r.getAs[Long]("short_bp"), r.getAs[Long]("mean_tokens"),
            r.getAs[String]("verdict")))
        }
        ()
      }.start()
    try {
      Seq(a, b, broken).foreach { batch =>
        mem.addData(batch: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(seen.size == 3, s"expected 3 micro-batch cards, got ${seen.size}")
    // stream cards must equal the batch computation over the same slices
    Seq(a, b, broken).zip(seen).foreach { case (batch, got) =>
      val e = DriftMonitor.drift(
        DriftMonitor.card(batch.toDF("doc_id", "text")), ref).collect()(0)
      assert(got == ((e.getAs[Long]("docs"), e.getAs[Long]("tokens"),
        e.getAs[Long]("short_bp"), e.getAs[Long]("mean_tokens"),
        e.getAs[String]("verdict"))), s"stream/batch card mismatch: $got")
    }
    // healthy slices stay ok; the truncated batch must alarm
    assert(seen(0)._5 == "ok" && seen(1)._5 == "ok",
      s"healthy batches flagged: $seen")
    assert(seen(2)._5 == "drift", s"skewed batch not flagged: ${seen(2)}")
    // a DEAD feed must alarm, not null-propagate into 'ok': the empty
    // batch and the all-null-text batch are the outage shapes
    val empty = DriftMonitor.drift(
      DriftMonitor.card(Seq.empty[(Long, String)].toDF("doc_id", "text")), ref)
      .collect()(0)
    assert(empty.getAs[String]("verdict") == "drift",
      s"empty batch reported ${empty.getAs[String]("verdict")}")
    assert(empty.getAs[Long]("docs") == 0 && empty.getAs[Long]("short_bp") == 0)
    val nulls = DriftMonitor.drift(
      DriftMonitor.card(Seq((1L, null: String), (2L, null: String))
        .toDF("doc_id", "text")), ref).collect()(0)
    assert(nulls.getAs[String]("verdict") == "drift",
      "all-null-text batch (0-token docs) must read as fully short → drift")
    assert(nulls.getAs[Long]("short_bp") == 10000)
  }
}
