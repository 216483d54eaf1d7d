package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.{Cli, SparkEntry, Tables}
import graft.operators.IndexCompact
import graft.queries.{EventsOps, MultimodalOps, Relational, SimilarityOps, TextOps}

/** `corpus_4x`: the training-data lifecycle on the generated 4x corpus
  * — `Cli prep` (audit + rollups), an IVF-PQ index build, batches of
  * searches against it, then heavy entries of every query pack — on a
  * fresh copy of the corpus each round, so every memo and index is built
  * inside the timed numbers. There is no warm-up: like a `graft.Cli`
  * process, each step compiles its own plans inside its timed call. */
object Corpus {
  val Heavy: Seq[String] = Seq(
    "q_embed_neardup", "q_embed_semdedup", "q_doc_dup_span_strip",
    "q_doc_index_dedup", "q_doc_lm_score", "q18_large_orders",
    "q_events_sessionize", "q_mm_image_neardup")

  val packs: Seq[(String, Set[String])] = Seq(
    "relational" -> Relational.defs.keySet,
    "events" -> EventsOps.defs.keySet,
    "text" -> TextOps.defs.keySet,
    "similarity" -> SimilarityOps.defs.keySet,
    "multimodal" -> MultimodalOps.defs.keySet)

  final case class Times(prep: Double, index: Double, search: Seq[Double],
      heavy: Seq[(String, Double)], build: Double, queries: Long, indexBytes: Long) {
    def total: Double = prep + index + search.sum + heavy.map(_._2).sum
  }

  def batches(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).sorted.map(f => s"$dir/$f").toSeq

  def lifecycle(r: Run, corpus: String, queries: String, out: String,
      heavy: Seq[String]): Times = {
    val spark = r.spark
    val (tp, _) = r.op("prep", "prep")(Cli.runPrep(Seq(corpus, s"$out/prep"), spark))
    val index = s"$out/index"
    val (ti, _) = r.op("index", "build")(
      SimilarityOps.saveIvfPqIndex(Tables(spark, corpus, "embeddings"), index))
    var nq = 0L
    val search = batches(queries).zipWithIndex.map { case (b, i) =>
      val q = spark.read.parquet(b)
      nq += q.count()
      r.op("search", s"batch_$i")(SimilarityOps.searchIvfPqIndex(spark, q, index)
        .write.parquet(s"$out/search/batch_$i"))._1
    }
    var build = 0.0
    val times = heavy.map { name =>
      name -> r.op("heavy", name) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, corpus)
        build += (System.nanoTime() - t0) / 1e9
        df.write.parquet(s"$out/heavy/$name")
      }._1
    }
    Times(tp, ti, search, times, build, nq, Main.dirBytes(index))
  }

  def run(r: Run, o: Opts): Unit = {
    val spark = r.spark
    r.metrics("warmup_s") = 0.0

    val times = mutable.ArrayBuffer[Times]()
    val n = Main.rounds(o) { i =>
      val corpus = Main.copyTree(s"${o.inputs}/corpus", s"${o.work}/round_$i/in")
      val order = new scala.util.Random(o.seed + i).shuffle(Heavy)
      times += lifecycle(r, corpus, s"${o.inputs}/queries", s"${o.work}/round_$i/out", order)
      if (i == 0) {
        Files.writeString(Paths.get(s"${o.work}/round_0/index_paths.txt"),
          Seq("centroids", "codebook", "codes").map { a =>
            s"$a " + IndexCompact.resolvePath(s"${o.work}/round_0/out/index", s"$a.parquet")
              .stripPrefix(s"${o.work}/")
          }.mkString("\n"))
        Oracle.write(s"${o.work}/round_0/oracle_sql.json", SparkEntry.oracleSql.filter {
          case (k, _) => Heavy.contains(k) || k == "q_doc_corpus_prep"
        })
      }
    }
    def med(f: Times => Double) = Stats.median(times.map(f).toSeq)
    r.metrics("rounds") = n
    r.metrics("round_s") = med(_.total)
    r.metrics("round_cpu_s") = r.cpuPerRound(n)

    r.trace.foreach { t =>
      def in(p: String): String => Boolean = _ == p
      // runPrep writes the audit, then the two rollups from it
      val rollups = t.samplesOf("write_s", in("prep:prep")).grouped(3).map(_.drop(1).sum).sum / n
      r.layers("prep.s") = med(_.prep)
      r.layers("prep.audit_s") = med(_.prep) - rollups
      r.layers("prep.rollups_s") = rollups
      r.layers("index.build_s") = med(_.index)
      r.layers("index.jobs") = t.total("jobs", in("index:build")) / n
      r.layers("index.artifact_mb") = med(_.indexBytes / 1048576.0)
      val isSearch: String => Boolean = _.startsWith("search:")
      r.layers("search.qps") = med(x => x.queries / x.search.sum)
      r.layers("search.jobs") = t.total("jobs", isSearch) / n
      r.layers("search.shuffle_mb") = t.total("shuffle_bytes", isSearch) / n / 1048576.0
      Heavy.foreach(h => r.layers(s"heavy.${h}_s") = med(_.heavy.toMap.apply(h)))
      r.layers("heavy.s") = med(_.heavy.map(_._2).sum)
      packs.foreach { case (p, names) =>
        r.layers(s"pack.${p}_s") = med(_.heavy.filter(h => names(h._1)).map(_._2).sum)
      }
      r.layers("entry.build_s") = med(_.build)
      r.layers("entry.exec_s") = med(x => x.heavy.map(_._2).sum - x.build)
      // the bucket self-join fuses the cosine check into its condition,
      // so its candidate pairs are counted here from the same buckets
      val candidates = Tables(spark, s"${o.work}/round_0/in", "embeddings")
        .groupBy(SimilarityOps.signBucket(col("embedding"), 6)).count()
        .collect().map(_.getLong(1)).filter(_ <= SimilarityOps.EmbBucketCap)
        .map(b => b * (b - 1) / 2).sum
      val pairs = spark.read.parquet(s"${o.work}/round_0/out/heavy/q_embed_neardup").count()
      r.layers("neardup.join_rows") = candidates.toDouble
      r.layers("neardup.pairs_out") = pairs.toDouble
      r.layers("neardup.verify_yield") = if (candidates > 0) pairs.toDouble / candidates else 0.0
      Engine.record(r, t, _ != "untimed", n)
    }
  }
}
