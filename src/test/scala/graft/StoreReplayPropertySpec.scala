package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** ONE crash-replay property for the whole epoch-keyed store family
  * (VERDICT r8 task 7). Structured Streaming's foreachBatch can crash
  * BETWEEN a trigger's store write and the checkpoint's offset commit,
  * so the SAME batchId re-runs with the same input. The family-wide
  * contract: a store built by triggers 0..n−1 with ANY one trigger
  * fired twice equals the store built clean — a replayed trigger reads
  * the untouched epochs < N and REWRITES its own epoch, never appends
  * or re-merges.
  *
  * Each member contributes only (deterministic batch for trigger i,
  * run, canonical snapshot, its EpochStore dirs); the property loop —
  * one clean store, then
  * one store per replay point r with trigger r doubled, snapshots
  * compared — is inherited. A new store member joins the proof by
  * adding one Member row. The per-member replay tests in StreamingSpec
  * remain as worked examples with member-specific value assertions
  * (batch-twin equality, exact counts); THIS spec owns the replay
  * contract itself.
  *
  * The comparison runs across independent store builds, so it also
  * pins full-run determinism of every trigger fold — the sorted-fold /
  * order-independent-merge discipline the operators document. A second
  * property over the same builds bounds storage: every state dir keeps
  * at most 2 epochs (EpochStore's collection of unreachable epochs).
  */
class StoreReplayPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Member(
      name: String,
      nTriggers: Int,
      batch: Int => DataFrame,
      run: (DataFrame, Long, String) => Unit,
      snap: String => Seq[String],
      stateDirs: Seq[String]) // EpochStore dirs under the run root

  /** Value-canonical rows: binary columns hex-ed (Row.toString of a
    * byte array prints the identity hash, not the value), rows sorted.
    */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == BinaryType) hex(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
  }
  private def canonPath(path: String): Seq[String] =
    if (!new java.io.File(path).exists()) Nil
    else canon(spark.read.parquet(path))
  private def latestState(path: String): Seq[String] =
    graft.streaming.StreamAggState.readState(spark, path)
      .map(canon).getOrElse(Nil)
  private def tagged(parts: (String, Seq[String])*): Seq[String] =
    parts.flatMap { case (tag, rows) => rows.map(r => s"$tag:$r") }

  private lazy val sharedDim: String = {
    val p = Files.createTempDirectory("graft-replay-dim").toString
    Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("k", "label").write.mode("overwrite").parquet(p)
    p
  }

  private def members: Seq[Member] = {
    val A = graft.streaming.StreamAggState
    val E = graft.streaming.StreamErrorHandling
    Seq(
      Member("maintainAggState (ST9)", 3,
        i => (0 until 20).map(j => (s"k${(i * 7 + j) % 5}", (i * 13 + j).toLong))
          .toDF("k", "x"),
        (b, id, rt) => A.processTrigger(b, id, Seq("k"), Seq("x"), s"$rt/state"),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("maintainCompactedLog (ST11)", 3,
        i => (0 until 12).map(j => (s"k${j % 4}", (i * 10 + j).toLong,
          (i * 100 + j).toLong, s"p$i-$j")).toDF("k", "ver", "id", "payload"),
        (b, id, rt) => A.processCompactTrigger(b, id, Seq("k"),
          Seq("ver", "id"), Seq("payload"), s"$rt/state"),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("maintainCompactedLogCdc (ST16)", 3,
        i => (0 until 12).map(j => (s"k${j % 4}", (i * 10 + j).toLong,
          (i * 100 + j).toLong, s"p$i-$j")).toDF("k", "ver", "id", "payload"),
        (b, id, rt) => A.processCdcTrigger(b, id, Seq("k"),
          Seq("ver", "id"), Seq("payload"), s"$rt/state", s"$rt/cdc"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "cdc" -> canonPath(s"$rt/cdc")),
        Seq("state")),
      Member("maintainScd2 (ST20)", 3,
        i => (0 until 10).map(j => ((j % 3).toLong, s"v${(i + j) % 4}",
          (i * 100 + j * 7).toLong, (i * 100 + j).toLong))
          .toDF("k", "v", "ts", "tie"),
        (b, id, rt) => A.processScd2Trigger(b, id, Seq("k"), Seq("v"),
          "ts", "tie", s"$rt/state"),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("detectAnomalies (ST10)", 3,
        i => (0 until 30).map(j => (s"k${j % 3}",
          ((i * 31 + j * 17) % 100).toDouble + (if (j == 7) 500.0 else 0.0)))
          .toDF("k", "v"),
        (b, id, rt) => A.processAnomalyTrigger(b, id, Seq("k"), "v",
          k = 3, minPrior = 1, s"$rt/state", s"$rt/out"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "out" -> canonPath(s"$rt/out")),
        Seq("state")),
      Member("maintainSlidingDistinct (ST24)", 3,
        i => (for { d <- 0L to 4L; u <- 0 until 25 }
          yield (d + i, s"u${(u * 3 + d + i * 11) % 40}")).toDF("day", "uid"),
        (b, id, rt) => A.processSlidingDistinctTrigger(b, id, "day", "uid",
          s"$rt/state", lgK = 12),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("maintainQuantileSketch (ST25)", 3,
        i => (0 until 200).map(j => (s"g${j % 2}",
          ((j * 2654435761L + i * 97) % 10000).toDouble / 100.0)).toDF("g", "v"),
        (b, id, rt) => A.processQuantileTrigger(b, id, "g", "v",
          relativeError = 0.01, s"$rt/state"),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("maintainFreqSketch (ST27)", 3,
        i => (0 until 150).map(j => (s"g${j % 2}", s"t${(j * 7 + i) % 30}"))
          .toDF("g", "v"),
        (b, id, rt) => A.processFreqTrigger(b, id, "g", "v", s"$rt/state",
          eps = 0.01, confidence = 0.99, seed = 42),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("clusterOnWrite (ST26)", 4,
        i => (i * 40 until (i + 1) * 40).map { j =>
          val z = (j * 2654435761L) % 4096
          (j.toLong, (z / 256) % 16, (z / 16) % 16, z % 16)
        }.toDF("id", "x", "y", "z").repartition(2),
        (b, id, rt) => A.processClusterOnWriteTrigger(b, id, rt,
          Seq("x", "y", "z"), numFiles = 4, minDeltaBatches = 2),
        rt => tagged(
          "rows" -> canon(graft.sources.Layout.readClustered(spark, rt)),
          "consumed" -> graft.sources.Layout.consumedBatches(spark, rt)
            .toSeq.sorted),
        Nil),
      Member("captureToDlqWithRetry pending store (ST6)", 3,
        i => (Seq(s"${i + 1}", s"${i * 10 + 2}") ++
          (if (i < 2) Seq(s"bad-$i") else Nil)).toDF("s"),
        (b, id, rt) => {
          val results = Map("v" -> expr("cast(s as bigint)"))
          val captured = graft.core.ErrorFrame.captureErrors(
            b, results, input = col("s"))
          E.processRetryTrigger(captured.df, id, captured.resultNames,
            results, col("s"), "replay property",
            s"$rt/values", s"$rt/dlq", s"$rt/pending",
            graft.core.ErrorClassifier(
              Seq("org.apache.spark.SparkNumberFormatException"), Set.empty),
            // backoff 0: every pending row is due at every clock, so
            // the batchId→clock map below can never straddle a window
            maxRetries = 2, backoffMs = 0L, now = 1000L * (id + 1))
          },
        rt => tagged(
          "pending" -> E.readPending(spark, s"$rt/pending")
            .map(df => canon(df.select(col("s"),
              col(E.RetryCountCol).cast("long")))).getOrElse(Nil),
          "values" -> canonPath(s"$rt/values"),
          "dlq" -> canonPath(s"$rt/dlq").map(_.replaceAll(
            // stack frames re-render per capture scan (CLAUDE.md):
            // normalize the cause struct to its stable class+message
            "\\[\\[.*\\]\\]", "[cause]"))),
        Seq("pending")),
      Member("enrichWithPendingRetry pending store (ST19)", 3,
        i => Seq((1L, (i * 10 + 1).toLong), ((i + 4).toLong, (i * 10 + 2).toLong))
          .toDF("k", "fact"),
        (b, id, rt) => E.processEnrichRetryTrigger(b, id, sharedDim,
          Seq("k"), maxAttempts = 2, s"$rt/values", s"$rt/pending"),
        rt => tagged(
          "pending" -> E.readPending(spark, s"$rt/pending")
            .map(canon).getOrElse(Nil),
          "values" -> canonPath(s"$rt/values")),
        Seq("pending")),
      Member("quarantineLate watermark store (ST18)", 3,
        i => (0 until 10).map { j =>
          val ms = (i * 50 + j * 13 - (if (j == 4) 200 else 0)).toLong.max(0L)
          (j.toLong, new java.sql.Timestamp(ms))
        }.toDF("id", "ts"),
        (b, id, rt) => E.processLateQuarantineTrigger(b, id, "ts",
          delayMs = 20L, s"$rt/values", s"$rt/late", s"$rt/state"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values"),
          "late" -> canonPath(s"$rt/late")),
        Seq("state")),
      Member("maintainLshDedup (ST29)", 3,
        i => (0 until 6).map { j =>
          ((i * 10 + j).toLong, (0 until 12)
            .map(k => s"w${((i * 6 + j) * 7 + k * 3) % 40}").mkString(" "))
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processLshDedupTrigger(b, id, numHashes = 16,
          rowsPerBand = 4, shingleSize = 3, threshold = 0.5,
          s"$rt/state", s"$rt/pairs"),
        rt => tagged(
          "bands" -> latestState(s"$rt/state/bands"),
          "docs" -> latestState(s"$rt/state/docs"),
          "pairs" -> canonPath(s"$rt/pairs")),
        Seq("state/bands", "state/docs")),
      Member("maintainKnnGraph (ST32)", 3,
        i => (0 until 6).map { j =>
          val id = (i * 10 + j).toLong
          (id, (0 until 8).map(d =>
            (((id * 31 + d * 7) % 13).toFloat - 6f) / 3f), (j % 3))
        }.toDF("vec_id", "embedding", "label"),
        (b, id, rt) => A.processKnnGraphTrigger(b, id, g = 2, rounds = 1,
          bridges = 1, s"$rt/state", s"$rt/graph"),
        rt => tagged(
          "vectors" -> latestState(s"$rt/state/vectors"),
          "within" -> latestState(s"$rt/state/within"),
          "graph" -> canonPath(s"$rt/graph")),
        Seq("state/vectors", "state/within")),
      Member("maintainBm25 (ST33)", 3,
        i => (0 until 6).map { j =>
          val text = (0 until 10)
            .map(k => s"w${((i * 6 + j) * 5 + k * 3) % 12}").mkString(" ")
          ((i * 10 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processBm25Trigger(b, id,
          Seq((0L, "w0"), (0L, "w3"), (1L, "w7")).toDF("qid", "term"),
          3, 1.2, 0.75, s"$rt/state", s"$rt/scores"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "scores" -> canonPath(s"$rt/scores")),
        Seq("state")),
      Member("dedupStreamingBloom (ST17)", 3,
        i => (0 until 40).map(j => (s"k${(i * 20 + j * 3) % 70}", j.toLong))
          .toDF("k", "x"),
        (b, id, rt) => E.processBloomDedupTrigger(b, id, "k",
          expectedItems = 10000L, fpp = 0.01, s"$rt/values", s"$rt/state"),
        rt => tagged("values" -> canonPath(s"$rt/values")),
        // its blob epochs are kept on purpose (EpochStore.writeBytes)
        Nil),
      Member("maintainExactSubstr (ST31)", 3,
        i => (0 until 5).map { j =>
          val run = (1 to 8).map(x => s"r$x").mkString(" ")
          val text =
            if (j % 2 == 0) s"u${i}${j}a u${i}${j}b $run u${i}${j}c"
            else s"v${i}${j}a v${i}${j}b v${i}${j}c v${i}${j}d v${i}${j}e"
          ((i * 10 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processExactSubstrTrigger(b, id, 3, 4,
          s"$rt/state", s"$rt/values"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values")),
        Seq("state")),
      Member("maintainChiSquare (ST39)", 3,
        i => (0 until 10).map { j =>
          (s"a${(i + j) % 2}", s"b${j % 3}")
        }.toDF("a", "b"),
        (b, id, rt) => A.processChiSquareTrigger(b, id, "a", "b",
          s"$rt/state", s"$rt/stats"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "stats" -> canonPath(s"$rt/stats")),
        Seq("state")),
      Member("maintainDomainCap (ST37)", 3,
        i => (0 until 6).map { j =>
          ((i * 10 + j).toLong, s"s${j % 2}", s"txt$i$j")
        }.toDF("doc_id", "source", "text"),
        (b, id, rt) => A.processDomainCapTrigger(b, id, "source", 5,
          s"$rt/state", s"$rt/values", s"$rt/rejected"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values"),
          "rejected" -> canonPath(s"$rt/rejected")),
        Seq("state")),
      Member("maintainBurstEvents (ST34)", 3,
        i => (0 until 12).map { j =>
          // repeats across triggers: the (user, ts) distinct must
          // collapse duplicate deliveries as well as replays
          ((j % 3).toLong, (i * 5 + j).toLong * 1000000000L)
        }.toDF("user_id", "ts"),
        (b, id, rt) => A.processBurstTrigger(b, id, s"$rt/state"),
        rt => latestState(s"$rt/state"),
        Seq("state")),
      Member("contaminationGate (ST30)", 3,
        i => (0 until 8).map { j =>
          val text =
            if (j % 3 == 0) s"alpha beta leak$i$j"   // shares "alpha beta"
            else s"clean$i$j words only here $j"
          ((i * 100 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => E.processContaminationTrigger(b, id,
          graft.operators.Pipeline.evalGramSet(
            Seq((0L, "alpha beta gamma")).toDF("doc_id", "text"), 2),
          n = 2, s"$rt/clean", s"$rt/flagged"),
        rt => tagged("clean" -> canonPath(s"$rt/clean"),
          "flagged" -> canonPath(s"$rt/flagged")),
        Nil),
      Member("enrichToSink (ST13)", 3,
        i => Seq((1L, (i * 10 + 1).toLong), ((i + 2).toLong, (i * 10 + 2).toLong))
          .toDF("k", "fact"),
        (b, id, rt) => E.processEnrichTrigger(b, id, sharedDim, Seq("k"),
          s"$rt/values"),
        rt => canonPath(s"$rt/values"),
        Nil))
  }

  /** Per member: the clean run root, then one root per replay point r
    * (trigger r fired twice). Both properties read the same builds. */
  private lazy val builds: Seq[(Member, String, Seq[String])] = members.map { m =>
    def build(replayAt: Int): String = {
      val rt = Files.createTempDirectory(s"graft-replay-prop").toString
      for (i <- 0 until m.nTriggers) {
        m.run(m.batch(i), i.toLong, rt)
        if (i == replayAt) m.run(m.batch(i), i.toLong, rt) // the crash
      }
      rt
    }
    (m, build(replayAt = -1), (0 until m.nTriggers).map(build))
  }

  test("epoch-keyed store family: replaying ANY trigger leaves every store unchanged") {
    builds.foreach { case (m, cleanRoot, replayRoots) =>
      val clean = m.snap(cleanRoot)
      assert(clean.nonEmpty, s"${m.name}: empty snapshot — property is vacuous")
      replayRoots.zipWithIndex.foreach { case (rt, r) =>
        val replayed = m.snap(rt)
        assert(replayed == clean,
          s"${m.name}: replaying trigger $r changed the store\n" +
            s"clean:    ${clean.mkString(" | ")}\nreplayed: ${replayed.mkString(" | ")}")
      }
    }
  }

  test("epoch-keyed store family: after any replayed build a state dir holds at most 2 epochs") {
    // storage is bounded by 2 × state size, never triggers × state size
    builds.foreach { case (m, _, replayRoots) =>
      for ((rt, r) <- replayRoots.zipWithIndex; dir <- m.stateDirs) {
        val epochs = Option(new java.io.File(s"$rt/$dir").listFiles()).toSeq
          .flatten.filter(f => f.isDirectory && f.getName.startsWith("epoch="))
          .map(_.getName).sorted
        assert(epochs.nonEmpty, s"${m.name}: no epoch under $dir — vacuous")
        assert(epochs.size <= 2,
          s"${m.name}: replay at $r left ${epochs.mkString(", ")} under $dir")
      }
    }
  }
}
