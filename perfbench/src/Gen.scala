package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Everything a workload feeds the program is
  * written to files by these before timing starts; the same seed gives
  * byte-identical inputs.
  */
object Gen {

  /** One change event on the invoice table: `before`/`after` are the
    * invoice_number of the row image, -1 for a null image.
    */
  final case class Op(key: Int, kind: Char, before: Int, after: Int)

  /** A c/u/d stream over `nKeys` keys in the reference sequencer's op mix
    * (the `Soak.envelopeLines` rates): every key inserted, a third
    * updated, a ninth updated again, a seventh deleted. Keys' event runs
    * interleave at random; each key's own events stay in order. Stream
    * position = index + 1.
    */
  def changeOps(seed: Long, nKeys: Int): Array[Op] = {
    val rng = new Random(seed)
    val timed = Array.newBuilder[(Double, Int, Int, Op)]
    for (k <- 0 until nKeys) {
      var v = rng.nextInt(1000)
      var t = rng.nextDouble()
      var i = 0
      def emit(op: Op): Unit = { timed += ((t, k, i, op)); i += 1; t += rng.nextDouble() * 0.3 }
      emit(Op(k, 'c', -1, v))
      if (rng.nextInt(3) == 0) {
        emit(Op(k, 'u', v, v + 1)); v += 1
        if (rng.nextInt(3) == 0) { emit(Op(k, 'u', v, v + 1)); v += 1 }
      }
      if (rng.nextInt(7) == 0) emit(Op(k, 'd', v, -1))
    }
    timed.result().sortBy(x => (x._1, x._2, x._3)).map(_._4)
  }

  private def image(key: Int, v: Int): String =
    if (v < 0) "null" else s"""{"order_id":$key,"invoice_number":$v}"""

  /** Debezium envelope JSON for `op` at stream position `pos`, stamped
    * `tsMs`.
    */
  def envelope(op: Op, pos: Long, tsMs: Long): String =
    s"""{"payload":{"before":${image(op.key, op.before)},"after":${image(op.key, op.after)},""" +
      s""""source":{"ts_ms":$tsMs,"pos":$pos,"db":"dev","table":"invoice"},""" +
      s""""op":"${op.kind}","ts_ms":$tsMs}}"""

  /** Write `lines` to `dir/name` atomically (temp file + rename), so a
    * file-stream source never lists a partial file.
    */
  def writeAtomic(dir: Path, name: String, lines: Iterator[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    val sb = new StringBuilder
    lines.foreach(l => sb.append(l).append('\n'))
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The catch-up backlog: the whole stream, split into `nFiles`
    * contiguous position ranges. Returns the envelope count.
    */
  def writeBacklog(dir: Path, seed: Long, nKeys: Int, nFiles: Int): Int = {
    Files.createDirectories(dir)
    val ops = changeOps(seed, nKeys)
    val per = (ops.length + nFiles - 1) / nFiles
    (0 until nFiles).foreach { f =>
      val from = f * per
      val to = math.min(ops.length, from + per)
      writeAtomic(dir, f"part-$f%05d.json",
        (from until to).iterator.map(i => envelope(ops(i), i + 1L, 1000L + i)))
    }
    ops.length
  }

  private val vocab = Array(
    "spark", "table", "query", "hash", "join", "scan", "filter", "group",
    "sort", "line", "column", "order", "value", "batch", "stream", "merge",
    "window", "agg", "key", "part", "customer", "vector", "fast", "slow",
    "big", "small", "the", "a", "index", "shuffle")

  /** Word-salad crawl documents with the `ScaleProbe.writeDocuments`
    * duplicate rates: about one doc in 200 is a near-duplicate of its
    * predecessor (last token replaced), one in 997 an exact copy.
    */
  def documents(seed: Long, n: Int): Array[(Long, String)] = {
    val rng = new Random(seed ^ 0x5DEECE66DL)
    var prev: Array[String] = Array("a", "a", "a")
    Array.tabulate(n) { i =>
      val r = rng.nextInt(199400)
      val toks =
        if (i > 0 && r < 997) prev.dropRight(1) :+ "mutant"
        else if (i > 0 && r < 997 + 200) prev
        else Array.fill(20 + rng.nextInt(60))(vocab(rng.nextInt(vocab.length)))
      prev = toks
      (i.toLong, toks.mkString(" "))
    }
  }

  /** 64-dim embedding of `docId`, a pure function of (seed, doc id). */
  def embedding(seed: Long, docId: Long): Array[Float] = {
    val rng = new Random(seed * 1000003L + docId)
    Array.fill(64)((rng.nextDouble() * 2 - 1).toFloat)
  }

  /** Schema of the drop files. */
  val DocSchema = "doc_id LONG, text STRING"

  /** The curation corpus: `nDrops` JSON-lines drops of ascending doc_id
    * under `dir/drops/dNNN`, and the embeddings table the vector serve
    * path re-ranks against under `dir/corpus/embeddings.parquet`.
    */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, nDocs: Int,
                  nDrops: Int): Unit = {
    import spark.implicits._
    val docs = documents(seed, nDocs)
    val per = (nDocs + nDrops - 1) / nDrops
    docs.grouped(per).zipWithIndex.foreach { case (d, b) =>
      val drop = Paths.get(f"$dir/drops/d$b%03d")
      Files.createDirectories(drop)
      // the vocabulary needs no JSON escaping
      writeAtomic(drop, "part-0.json",
        d.iterator.map { case (id, text) => s"""{"doc_id":$id,"text":"$text"}""" })
    }
    docs.toSeq.map { case (id, _) => (id, embedding(seed, id), (id % 16).toInt) }
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/corpus/embeddings.parquet")
  }
}
