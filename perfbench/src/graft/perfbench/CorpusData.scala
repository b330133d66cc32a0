package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Deterministic generator of the two tables the operator mix reads,
  * `documents.parquet` and `embeddings.parquet`, with the column contract
  * of `graft.engine.Tables.documents` / `embeddings`:
  *
  *  - documents(doc_id, text, lang, source, n_chars): 8–95 words drawn
  *    uniformly from a 30-word vocabulary; 5 % are near-duplicates (an
  *    earlier document with its first word dropped and " dup" appended);
  *    lang en 40 %, de/es/fr/zh 15 % each; source `src<id % 20>`.
  *  - embeddings(vec_id, embedding array<float>, label): 64-dim unit
  *    vectors, each a random one of 10 unit centroids plus N(0, 0.1²)
  *    noise, labelled with its centroid. */
object CorpusData {

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && rnd.nextDouble() < 0.05) {
          val src = texts(rnd.nextInt(i))
          src.split(' ').drop(1).mkString(" ") + " dup"
        } else Seq.fill(8 + rnd.nextInt(88))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val r = rnd.nextDouble()
      val lang = if (r < 0.4) "en" else Seq("de", "es", "fr", "zh")(((r - 0.4) / 0.15).toInt min 3)
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def vecs(seed: Long, n: Int, dim: Int = 64, clusters: Int = 10): Seq[Vec] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    def gauss(): Double = {
      // Box–Muller from the splittable stream (java.util.Random is not).
      val a = 1.0 - rnd.nextDouble()
      math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centroids = Array.fill(clusters)(unit(Array.fill(dim)(gauss())))
    (0 until n).map { i =>
      val c = rnd.nextInt(clusters)
      val v = unit(centroids(c).map(_ + 0.1 * gauss()))
      Vec(i.toLong, v.map(_.toFloat), c)
    }
  }

  /** Writes both tables under `dir` as `Tables` reads them (one parquet
    * file each) and returns the total bytes written. */
  def write(spark: SparkSession, dir: String, seed: Long, nDocs: Int,
      nVecs: Int): Long = {
    import spark.implicits._
    docs(seed, nDocs).toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    vecs(seed, nVecs).toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    Files.bytes(dir)
  }
}
