package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.chain.{BlockSyntax, Datatypes, Freeze, Lake}
import graft.queries.ChainQueries
import graft.streaming.FollowMode

/** `chain_lifecycle`: cryo's own use. Every dataset that needs no entity
  * list is frozen from bronze into an empty lake at 1,000-block chunks,
  * the same range is frozen again (every file skipped), a tail of bronze
  * files is appended and caught up by follow mode, and one block range of
  * each dataset is read back. Each round works on a fresh copy of the
  * bronze and a fresh lake. */
object ChainLifecycle {
  val ChunkSize = 1000L
  val Batch = BlockSyntax.Range(1000, 2000)
  val Tail = BlockSyntax.Range(2000, 3000)
  val ReadLength = 500L

  def datasets: Seq[String] =
    Datatypes.all.filter(_.requiredDims.isEmpty).map(_.name).sorted

  def spec(names: Seq[String], blocks: BlockSyntax.Range, out: String) =
    Freeze.FreezeSpec(datasets = names, blocks = blocks,
      chunkSize = ChunkSize, outputDir = out)

  final case class Times(freeze: Double, refreeze: Double, reads: Seq[Double],
      catchup: Double, rows: Long, lakeBytes: Long)

  def chunks(r: BlockSyntax.Range): Int =
    ((r.endExclusive - r.start + ChunkSize - 1) / ChunkSize).toInt

  /** count each file of a freeze call as one operation */
  def tally(r: Run, kind: String, res: Option[Freeze.FreezeResult], expected: Int): Unit =
    res match {
      case Some(f) =>
        (f.completed ++ f.skipped).foreach(p => r.ops += Op(kind, p, 0.0, ok = true, ""))
        f.errored.foreach(p => r.ops += Op(kind, p, 0.0, ok = false, "errored"))
      case None =>
        (1 to expected).foreach(i => r.ops += Op(kind, s"file $i", 0.0, ok = false, "call failed"))
    }

  /** one lifecycle over `in`/head (bronze) and `in`/tail (appended later) */
  def lifecycle(r: Run, names: Seq[String], in: String, dir: String,
      ranges: Seq[BlockSyntax.Range]): Times = {
    val spark = r.spark
    val bronze = Main.copyTree(s"$in/head", s"$dir/bronze")
    val lake = s"$dir/lake"
    val nFiles = names.size * chunks(Batch)

    val (tf, res) = r.op("freeze", "batch", counted = false)(
      Freeze.freeze(spark, bronze, spec(names, Batch, lake)))
    tally(r, "freeze_file", res, nFiles)
    val (ts, again) = r.op("freeze", "refreeze", counted = false)(
      Freeze.freeze(spark, bronze, spec(names, Batch, lake)))
    tally(r, "refreeze_file", again, nFiles)
    Files.writeString(Paths.get(s"$dir/refreeze_written.txt"),
      again.map(_.completed.size.toString).getOrElse("-1"))

    // the tail arrives as new bronze files; follow mode catches up
    Main.copyTree(s"$in/tail", bronze)
    val (tc, _) = r.op("follow", "catchup", counted = false)(
      catchUp(r, names, bronze, lake, s"$dir/checkpoint"))
    names.foreach { ds =>
      val got = Lake.select(lake, ds, Some(Tail)).count(_.start >= Tail.start)
      (1 to chunks(Tail)).foreach { i =>
        r.ops += Op("follow_file", s"$ds $i", 0.0, ok = i <= got, "")
      }
    }

    val reads = names.zip(ranges).map { case (ds, rg) =>
      r.trace.foreach { t =>
        r.span("lake.select") {
          val t0 = System.nanoTime()
          t.add("files_listed", Lake.listChunks(lake).size.toDouble)
          t.add("files_read", Lake.select(lake, ds, Some(rg)).size.toDouble)
          t.sample("select_s", (System.nanoTime() - t0) / 1e9)
        }
      }
      r.op("read", ds)(read(r, lake, ds, rg))._1
    }
    Times(tf, ts, reads, tc, res.map(_.rows).getOrElse(0L), Main.dirBytes(lake))
  }

  /** follow mode over the block headers of `bronze` until it has drained */
  def catchUp(r: Run, names: Seq[String], bronze: String, lake: String, checkpoint: String): Unit = {
    val blocks = s"$bronze/rpc_blocks.parquet"
    FollowMode.incrementalFreeze(r.spark, bronze, spec(names, Tail, lake),
        FollowMode.readAppendOnly(r.spark, blocks, r.spark.read.parquet(blocks).schema))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  def read(r: Run, lake: String, ds: String, rg: BlockSyntax.Range): Unit =
    Lake.read(r.spark, lake, ds, Some(rg)).write.format("noop").mode("overwrite").save()

  /** seeded read ranges: block offsets from Batch.start in inputs/ranges.txt */
  def rangesOf(path: String): Seq[BlockSyntax.Range] =
    Files.readAllLines(Paths.get(path)).toArray.map(_.toString.trim).filter(_.nonEmpty)
      .map(_.toLong + Batch.start).map(s => BlockSyntax.Range(s, s + ReadLength)).toSeq

  def run(r: Run, o: Opts): Unit = {
    val spark = r.spark
    val names = datasets
    val ranges = rangesOf(s"${o.inputs}/ranges.txt")
    require(ranges.size >= names.size, "fewer read ranges than datasets")

    // warm-up, on another directory: the batch freeze of the tail range
    // that the follow-mode files are compared with, and reads of it
    val w0 = System.nanoTime()
    val full = Main.copyTree(s"${o.inputs}/head", s"${o.work}/check/bronze")
    Main.copyTree(s"${o.inputs}/tail", full)
    val tailLake = s"${o.work}/check/tail_lake"
    Freeze.freeze(spark, full, spec(names, Tail, tailLake))
    names.foreach(ds => read(r, tailLake, ds, BlockSyntax.Range(2200, 2700)))
    r.metrics("warmup_s") = (System.nanoTime() - w0) / 1e9

    val times = collection.mutable.ArrayBuffer[Times]()
    val n = Main.rounds(o) { i =>
      times += lifecycle(r, names, o.inputs, s"${o.work}/round_$i", ranges.take(names.size))
      if (i == 0) writeCheck(r, o, names, ranges)
    }
    def med(f: Times => Double) = Stats.median(times.map(f).toSeq)
    r.metrics("rounds") = n
    r.metrics("round_s") = med(t => t.freeze + t.refreeze + t.reads.sum + t.catchup)
    r.metrics("round_cpu_s") = r.cpuPerRound(n)

    r.trace.foreach { t =>
      def in(p: String): String => Boolean = _ == p
      val files = names.size * chunks(Batch)
      val bronzeBytes = Main.dirBytes(s"${o.inputs}/head")
      r.layers("freeze.s") = med(_.freeze)
      r.layers("freeze.rows_per_s") = med(x => x.rows / x.freeze)
      r.layers("freeze.jobs") = t.total("jobs", in("freeze:batch")) / n
      r.layers("freeze.jobs_per_file") = t.total("jobs", in("freeze:batch")) / n / files
      r.layers("freeze.job_p50_ms") = Stats.median(t.samplesOf("job_ms", in("freeze:batch")))
      r.layers("freeze.scan_mb") = t.total("scan_bytes", in("freeze:batch")) / n / 1048576.0
      r.layers("freeze.scan_amplification") =
        t.total("scan_bytes", in("freeze:batch")) / n / bronzeBytes
      r.layers("freeze.shuffle_mb") = t.total("shuffle_bytes", in("freeze:batch")) / n / 1048576.0
      r.layers("freeze.skip_s") = med(_.refreeze)
      val isRead: String => Boolean = _.startsWith("read:")
      r.layers("lake.read_s") = med(_.reads.sum)
      r.layers("lake.read_p50_ms") = Stats.median(times.flatMap(_.reads).toSeq) * 1e3
      r.layers("lake.select_s") = t.samplesOf("select_s", in("lake.select")).sum / n
      r.layers("lake.files_listed") = t.total("files_listed", in("lake.select")) / n
      r.layers("lake.files_read") = t.total("files_read", in("lake.select")) / n
      r.layers("lake.scan_mb") = t.total("scan_bytes", isRead) / n / 1048576.0
      r.layers("lake.mb") = med(_.lakeBytes / 1048576.0)
      val follow = in("follow:catchup")
      val batches = t.samplesOf("batch_ms", follow)
      r.layers("follow.catchup_blocks_per_s") =
        med(x => (Tail.endExclusive - Tail.start) / x.catchup)
      r.layers("follow.batches") = t.total("batches", follow) / n
      r.layers("follow.batch_p50_ms") = Stats.median(batches)
      r.layers("follow.batch_max_ms") = if (batches.isEmpty) 0.0 else batches.max
      r.layers("follow.files_written") =
        r.ops.count(p => p.kind == "follow_file" && p.ok).toDouble / n
      Engine.record(r, t, l => l.startsWith("freeze:") || isRead(l) || follow(l), n)
    }
  }

  /** What the checker needs from the first round: the read results and
    * the DuckDB twins of the chain entries. */
  def writeCheck(r: Run, o: Opts, names: Seq[String], ranges: Seq[BlockSyntax.Range]): Unit = {
    val spark = r.spark
    val dir = s"${o.work}/round_0"
    val check = s"${o.work}/check"
    names.zip(ranges).foreach { case (ds, rg) =>
      Lake.read(spark, s"$dir/lake", ds, Some(rg)).write.parquet(s"$check/reads/$ds")
    }
    Files.writeString(Paths.get(s"$check/ranges.txt"), names.zip(ranges)
      .map { case (ds, rg) => s"$ds ${rg.start} ${rg.endExclusive}" }.mkString("\n"))
    Oracle.write(s"$check/oracle_sql.json", ChainQueries.oracles)
  }
}
