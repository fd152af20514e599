package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.SparkSuite
import graft.model.{LoginEvent, LoginFailWarning}
import graft.sources.CsvSources

/** Fault tolerance: a flatMapGroupsWithState detector restarted from its
  * checkpoint keeps per-key state — a fail buffered before the stop pairs
  * with a fail arriving after the restart. (The reference has no
  * checkpointing at all — SURVEY.md §2.6 'we should do better'.) */
class CheckpointRecoverySpec extends SparkSuite {

  import spark.implicits._

  test("loginFailStream resumes from checkpoint with state intact") {
    val base = Files.createTempDirectory("graft_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt").toString

    val results = ListBuffer.empty[LoginFailWarning]
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir, CsvSources.loginSchema)
        .as[LoginEvent]
      StreamDetectors.loginFailStream(src, maxGapSec = 2L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[LoginFailWarning], _: Long) =>
          results.synchronized { results ++= batch.collect() }
          ()
        }
        .start()
    }

    // batch 1: a single fail for user 7 — no alarm yet, state buffers it
    Files.writeString(Paths.get(inDir, "part1.csv"), "7,1.2.3.4,fail,100\n")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(results.isEmpty, "one fail alone must not alarm")

    // batch 2 after restart: adjacent fail within 2 s — alarm requires the
    // pre-restart state to have survived the checkpoint round trip
    Files.writeString(Paths.get(inDir, "part2.csv"), "7,1.2.3.4,fail,101\n")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val alarms = results.synchronized(results.toList)
    assert(alarms.map(w => (w.userId, w.firstFailTs, w.secondFailTs)) === List((7L, 100L, 101L)))
  }

  test("state written under Spark's default manager survives a restart under the installed one") {
    import LocalCheckpointFileManager.ConfKey
    val stock = classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager].getName
    val base = Files.createTempDirectory("graft_cross_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt")

    val results = ListBuffer.empty[LoginFailWarning]
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir, CsvSources.loginSchema)
        .as[LoginEvent]
      StreamDetectors.loginFailStream(src, maxGapSec = 2L)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: Dataset[LoginFailWarning], _: Long) =>
          results.synchronized { results ++= batch.collect() }
          ()
        }
        .start()
    }
    // Hadoop's checksummed local file system leaves a hidden `.<name>.crc`
    // beside each file it writes; the installed manager leaves none
    def sidecars(): Set[String] = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter { p => val n = p.getFileName.toString; n.startsWith(".") && n.endsWith(".crc") }
      .map(p => ckpt.relativize(p).toString).toSet

    try {
      spark.conf.set(ConfKey, stock)
      Files.writeString(Paths.get(inDir, "part1.csv"), "7,1.2.3.4,fail,100\n")
      val q1 = startQuery()
      assert(spark.conf.get(ConfKey) === stock, "a manager set on the session is not overridden")
      q1.processAllAvailable(); q1.stop()
      assert(sidecars().nonEmpty, "the default manager wrote the pre-restart state")

      spark.conf.unset(ConfKey)
      Files.writeString(Paths.get(inDir, "part2.csv"), "7,1.2.3.4,fail,101\n")
      val before = sidecars()
      val q2 = startQuery()
      assert(spark.conf.get(ConfKey) === classOf[LocalCheckpointFileManager].getName)
      q2.processAllAvailable(); q2.stop()
      assert(sidecars() -- before === Set.empty, "the installed manager wrote the post-restart state")
    } finally spark.conf.unset(ConfKey)

    val alarms = results.synchronized(results.toList)
    assert(alarms.map(w => (w.userId, w.firstFailTs, w.secondFailTs)) === List((7L, 100L, 101L)))
  }

  test("Cep.detect resumes from checkpoint with NFA runs intact") {
    import graft.streaming.Cep.{CepMatch, Pattern}
    val base = Files.createTempDirectory("graft_cep_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt").toString
    val pattern = Pattern.begin[LoginEvent]("fail")(_.eventType == "fail")
      .times(2).consecutive().within(5L)

    val results = ListBuffer.empty[CepMatch[Long]]
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir, CsvSources.loginSchema)
        .as[LoginEvent]
      Cep.detect[LoginEvent, Long](src, _.userId, "timestamp", _.timestamp,
          pattern, tieBreak = _.eventType)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[CepMatch[Long]], _: Long) =>
          results.synchronized { results ++= batch.collect() }
          ()
        }
        .start()
    }

    // batch 1: one fail — an open partial run goes into the state store
    Files.writeString(Paths.get(inDir, "part1.csv"), "7,1.2.3.4,fail,100\n")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(!results.exists(_.status == "matched"),
      "one fail alone must not complete the pattern")

    // batch 2 after restart: the pre-restart partial must pair with this
    Files.writeString(Paths.get(inDir, "part2.csv"), "7,1.2.3.4,fail,102\n")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val matched = results.synchronized(results.filter(_.status == "matched").toList)
    assert(matched.map(m => (m.key, m.stageTs)) === List((7L, Seq(100L, 102L))))
  }

  test("Cep.detect resumes AT the maxPartials cap: match set ≡ uninterrupted run") {
    import graft.streaming.Cep.{CepMatch, Pattern}
    val base = Files.createTempDirectory("graft_cep_cap_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt").toString
    val pattern = Pattern.begin[LoginEvent]("a")(_.eventType == "a")
      .followedBy("b")(_.eventType == "b").within(1000L)
      .withMaxPartials(3)

    val results = ListBuffer.empty[CepMatch[Long]]
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir, CsvSources.loginSchema)
        .as[LoginEvent]
      Cep.detect[LoginEvent, Long](src, _.userId, "timestamp", _.timestamp,
          pattern, tieBreak = _.eventType)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[CepMatch[Long]], _: Long) =>
          results.synchronized { results ++= batch.collect() }
          ()
        }
        .start()
    }

    // batch 1: four starts against a 3-run cap — one dropped row emits
    // and the state store carries exactly maxPartials open runs
    Files.writeString(Paths.get(inDir, "part1.csv"),
      (1 to 4).map(i => s"7,ip,a,${100 + i}").mkString("", "\n", "\n"))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(results.synchronized(results.count(_.status == "dropped")) === 1,
      "the eviction must emit before the restart")

    // restart: the capped run list must round-trip through the state
    // store — the closer completes all three retained runs
    Files.writeString(Paths.get(inDir, "part2.csv"), "7,ip,b,150\n")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val all = Seq(
      LoginEvent(7L, "ip", "a", 101L), LoginEvent(7L, "ip", "a", 102L),
      LoginEvent(7L, "ip", "a", 103L), LoginEvent(7L, "ip", "a", 104L),
      LoginEvent(7L, "ip", "b", 150L))
    val oracle = Cep.detectOrdered[LoginEvent, Long](7L, all, _.timestamp, pattern)
      .map(m => (m.status, m.stageTs)).toSet
    val got = results.synchronized(
      results.map(m => (m.status, m.stageTs)).toSet)
    assert(got === oracle,
      "interrupted-at-cap run must equal the uninterrupted fold")
    assert(results.synchronized(results.count(_.status == "matched")) === 3,
      "all three retained runs must complete after recovery")
  }

  test("topNPerWindowStream state table survives a restart") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_topn_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt").toString
    val statePath = base.resolve("state").toString

    val emitted = scala.collection.mutable.Map[(Long, Long), (Long, Int)]()
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir,
        org.apache.spark.sql.types.StructType.fromDDL("item LONG, sec LONG"))
        .select(col("item"), col("sec").cast("timestamp").as("ts"))
      val counts = StreamWindows.tumblingCountStream(src, "ts", Seq("item"),
        "60 seconds", "5 seconds")
      StreamWindows.topNPerWindowStream(counts, Seq("window_end"), "cnt", "item", 2,
          statePath) { (ranked: DataFrame, _: Long) =>
          ranked.select("item", "window_end", "cnt", "rn")
            .as[(Long, Long, Long, Int)].collect()
            .foreach { case (i, we, c, rn) => emitted.synchronized {
              emitted((i, we)) = (c, rn) } }
        }.option("checkpointLocation", ckpt).start()
    }

    // phase 1: item 1 leads window 60
    Files.writeString(Paths.get(inDir, "p1.csv"), "1,10\n1,11\n2,12\n")
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(emitted.synchronized(emitted((1L, 60L))._2) === 1)

    // phase 2 after restart: item 2 overtakes — rank must merge against
    // the PERSISTED state table (item 1's count survives the restart)
    Files.writeString(Paths.get(inDir, "p2.csv"), "2,20\n2,21\n")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val fin = emitted.synchronized(emitted.toMap)
    assert(fin((2L, 60L)) === ((3L, 1)), s"item 2 must lead with merged count 3: $fin")
    assert(fin((1L, 60L)) === ((2L, 2)),
      s"item 1's pre-restart count must survive in the state table: $fin")
  }

  test("asofJoinStream resumes from checkpoint: floor right survives restart") {
    val base = Files.createTempDirectory("graft_asof_ckpt")
    val inDir = Files.createDirectory(base.resolve("in")).toString
    val ckpt = base.resolve("ckpt").toString
    // one union-source CSV stream: side,key,ts,value
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("side", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val results = ListBuffer.empty[(Long, Long, Option[Long], Option[Double])]
    def startQuery() = {
      val src = StreamSources.csvStream(spark, inDir, schema)
      val l = src.filter($"side" === "l").select($"k", $"ts".as("ls"))
      val r = src.filter($"side" === "r").select($"k", $"ts".as("rs"), $"v")
      StreamJoins.asofJoinStream(l, r, "k", "ls", "rs", "v",
          watermarkDelay = "5 seconds")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[StreamJoins.AsofStreamResult], _: Long) =>
          results.synchronized {
            results ++= batch.collect().map(x =>
              (x.key, x.left_sec, x.right_sec, x.right_value))
          }
          ()
        }
        .start()
    }
    // batch 1: a right at t=100 (the future floor) and a left at t=300
    // that cannot emit yet (watermark ~ 295)
    Files.writeString(Paths.get(inDir, "p1.csv"), "r,1,100,7.5\nl,1,300,0\n")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // batch 2 after restart: a far-future left pushes the watermark; the
    // pending left AND the buffered floor right must both have survived
    Files.writeString(Paths.get(inDir, "p2.csv"), "l,1,5000,0\nl,1,9000,0\n")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val got = results.synchronized(results.toList).sortBy(_._2)
    assert(got.take(2) === List(
      (1L, 300L, Some(100L), Some(7.5)),
      (1L, 5000L, Some(100L), Some(7.5))),
      s"state must survive restart; got $got")
  }
}
