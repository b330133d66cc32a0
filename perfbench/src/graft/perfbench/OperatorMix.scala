package graft.perfbench

import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.Caches

/** Registered operator queries, each materialized through Spark's `noop`
  * sink (never `count()`, which lets Catalyst prune computed columns).
  * One timed operation is one pass over the list. */
object OperatorMix extends Workload {

  val queries: Seq[String] = Seq(
    "q23_ngram_jaccard", "q43_prefix_jaccard", "q196_dedup_eval",
    "q37_dedup_clusters", "q38_dedup_survivors", "q151_winnowing_spans",
    "q28_ivf_topk", "q117_pq_topk",
    "q39_curation", "q146_bpe_tokenize", "q203_char_entropy", "q197_html_extract")

  /** Corpus sizes (documents, embeddings) of a run. */
  def size(o: Opts): (Int, Int) = if (o.smoke) (60, 60) else (200, 200)

  /** The fixed corpus whose results are recorded in `mix_expected.tsv`. */
  val referenceSeed = 0L
  val referenceSize = (200, 200)

  /** Row count and an order-independent fingerprint (sum of the low 32
    * bits of each row's xxhash64), gathered by `observe` on the same
    * execution that writes to the noop sink: zero extra jobs. */
  final case class Result(rows: Long, fingerprint: Long)

  def materialize(df: DataFrame, name: String): Result = {
    val obs = Observation(name)
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(xxhash64(df.columns.map(c => df.col(c)).toIndexedSeq: _*)
          .bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("fp"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Result(m("rows").asInstanceOf[Long], m("fp").asInstanceOf[Long])
  }

  /** One pass over the list; each query under its own span. */
  def pass(spark: SparkSession, t: Trace, dir: String): Map[String, Result] =
    queries.map { q =>
      val r = try t.span(q)(materialize(SparkEntry.queries(q)(spark, dir), q))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $q threw: $e")
          Result(-1L, -1L)
      }
      Caches.release()
      q -> r
    }.toMap

  /** Recorded results on the reference corpus: `query rows fingerprint`. */
  def expected(benchDir: String): Map[String, Result] = {
    val src = Source.fromFile(s"$benchDir/mix_expected.tsv")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(q, rows, fp) = l.trim.split("\\s+")
      q -> Result(rows.toLong, fp.toLong)
    }.toMap
    finally src.close()
  }

  def run(spark: SparkSession, t: Trace, o: Opts): Outcome = {
    val checks = new Checks
    val reps = if (o.smoke) 1 else 3
    val (nDocs, nVecs) = size(o)
    val selected = queries.toSet
    val dir = s"${o.work}/corpus"
    val prepNs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      CorpusData.write(spark, Files.fresh(dir), o.seed, nDocs, nVecs)
      SparkEntry.warmFixtures(spark, dir, selected)
      System.nanoTime() - t0
    }

    // Warm-up and correctness: one pass over the fixed reference corpus,
    // compared with the recorded results.
    val warm0 = System.nanoTime()
    val refDir = Files.fresh(s"${o.work}/reference")
    CorpusData.write(spark, refDir, referenceSeed, referenceSize._1, referenceSize._2)
    val want = expected(sys.props.getOrElse("perfbench.dir", "perfbench"))
    val got = pass(spark, t, refDir)
    queries.foreach { q =>
      checks(s"$q on the reference corpus: ${got(q)} vs recorded ${want.get(q)}")(
        want.get(q).contains(got(q)))
    }
    val warmNs = System.nanoTime() - warm0
    t.spans.clear()

    // Timed passes over the seeded corpus. Every pass must reproduce the
    // first pass exactly; the exact and the prefix-filtered Jaccard joins
    // must agree; the per-document queries keep one row per document.
    val opsMs = mutable.ArrayBuffer[Double]()
    var first: Map[String, Result] = null
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (opsMs.isEmpty || System.nanoTime() < deadline) {
      val (res, ns) = t.op(pass(spark, t, dir))
      opsMs += ns / 1e6
      if (first == null) first = res
      queries.foreach { q =>
        checks(s"$q pass ${opsMs.size}: ${res(q)} vs first pass ${first(q)}")(
          res(q) == first(q) && res(q).rows > 0)
      }
      checks(s"q23 = q43 on pass ${opsMs.size}")(
        res("q23_ngram_jaccard") == res("q43_prefix_jaccard"))
      Seq("q146_bpe_tokenize", "q203_char_entropy", "q197_html_extract").foreach { q =>
        checks(s"$q keeps $nDocs rows on pass ${opsMs.size}")(res(q).rows == nDocs)
      }
    }
    val layers = if (!t.traced) Map.empty[String, Double] else {
      val perQuery = queries.flatMap { q =>
        Seq(s"mix.${q}_s" -> Stats.median(t.instances(q).map(_.wallNs / 1e9)),
          s"mix.${q}_jobs" -> Stats.median(t.countersOf(q).map(_.jobs.toDouble)))
      }
      val perPass = t.countersOf(queries.head).indices.map { i =>
        val c = new Counters
        queries.foreach(q => c.add(t.countersOf(q)(i)))
        c
      }
      (perQuery ++ Seq(
        "mix.shuffle_bytes" -> Stats.median(perPass.map(_.shuffleBytes.toDouble)),
        "mix.spill_bytes" -> Stats.median(perPass.map(_.spillBytes.toDouble)),
        "mix.task_skew" -> Stats.median(perPass.map(_.taskSkew)))).toMap
    }
    Outcome(prepNs, warmNs, opsMs.toSeq, checks.attempted, checks.failed, layers)
  }
}
