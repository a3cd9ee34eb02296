package perfbench

import java.io.{File, PrintWriter}

import graft.Tables
import graft.api.GraftOps
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kernel microbenchmark: each native SQL function of the engine against
  * the built-in composition it replaces, over fixed rows that are cached
  * before timing. Both forms must give equal outputs; a mismatch is
  * reported by name. Writes `kernels.json` into the run's output dir.
  */
object Kernels {

  // fixed input sizes: documents with doc_id < Docs, and each vector
  // against the vectors with vec_id < Probes
  private val Docs = 2000
  private val Probes = 10

  private case class Pair(name: String, rows: Long, native: DataFrame,
                          builtin: DataFrame)

  private def timeNoop(df: DataFrame, reps: Int): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(reps / 2)
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist()
    (c, c.count())
  }

  private def pairs(spark: SparkSession, dir: String): Seq[Pair] = {
    val (toks, nDocs) = cached(Tables.documents(spark, dir)
      .filter(col("doc_id") < Docs)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w")))
    val (sh, nSh) = cached(toks.filter(size(col("w")) >= 3)
      .select(col("doc_id"), TextFns.shingles3(col("w")).as("shingles")))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
    val (vecPairs, nPairs) = cached(emb.as("x")
      .crossJoin(emb.filter(col("vec_id") < Probes).as("y"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        col("x.v").as("a"), col("y.v").as("b")))
    val keys = Seq(col("doc_id"))

    val perms = 16
    val hv = conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long")
    val minhashBuiltin = sh.select(keys :+ explode(col("shingles")).as("s"): _*)
      .select(keys :+ hv.as("hv"): _*)
      .groupBy(keys: _*)
      .agg(array((0 until perms).map(p =>
        min(col("hv") * (2 * p + 1) % (1L << 42))): _*).as("sig"))

    val h60 = conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long")
    val simhashBuiltin = toks.select(keys :+ explode(col("w")).as("t"): _*)
      .select(keys :+ h60.as("h"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), (0 until 60).map(i =>
        sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i")): _*)
      .select(keys :+ (0 until 60).map(i =>
        when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("fp"): _*)

    val n = 8
    val gramBuiltin = toks.select(keys :+ explode(TextFns.gramsN(col("w"), n)).as("g"): _*)
      .groupBy(keys: _*).agg(sort_array(collect_list(md5(col("g")))).as("hs"))

    val (gramN, window, posCap) = (3, 4, 1L << 20)
    val tall = toks.select(keys :+ posexplode(TextFns.gramsN(col("w"), gramN))
        .as(Seq("pos", "gram")): _*)
      .select(keys ++ Seq(col("pos"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long") * posCap
          + (lit(posCap - 1) - col("pos"))).as("key")): _*)
    val wSel = Window.partitionBy(keys: _*).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val winnowBuiltin = tall.select(keys ++ Seq(
        min(col("key")).over(wSel).as("sel"),
        count(lit(1)).over(Window.partitionBy(keys: _*)).as("n_grams")): _*)
      .groupBy((keys :+ col("n_grams")): _*)
      .agg(array_sort(collect_set(col("sel"))).as("sels"))

    val k = 5
    val corpus = Tables.embeddings(spark, dir)
    val probes = corpus.filter(col("vec_id") < Probes)
    val scored = corpus.select(col("vec_id"),
        VectorFns.toDoubles(col("embedding")).as("v"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        VectorFns.toDoubles(col("embedding")).as("pv"))),
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VectorFns.cosine(col("pv"), col("v")), 6).as("cos_sim"))
    val topkBuiltin = scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
    val nProbePairs = probes.count() * (corpus.count() - 1)

    def pairCols(c: Column) = Seq(col("a_id"), col("b_id"), c.as("r"))
    Seq(
      Pair("cosine_sim", nPairs,
        vecPairs.select(pairCols(expr("cosine_sim(a, b)")): _*),
        vecPairs.select(pairCols(VectorFns.cosine(col("a"), col("b"))): _*)),
      Pair("dot_product", nPairs,
        vecPairs.select(pairCols(expr("dot_product(a, b)")): _*),
        vecPairs.select(pairCols(VectorFns.dot(col("a"), col("b"))): _*)),
      Pair("minhash_sig", nSh,
        sh.select(keys :+ expr(s"minhash_sig(shingles, $perms)").as("sig"): _*)
          .filter(col("sig").isNotNull),
        minhashBuiltin),
      Pair("simhash60", nDocs,
        toks.select(keys :+ expr("simhash60(w)").as("fp"): _*)
          .filter(col("fp").isNotNull),
        simhashBuiltin),
      Pair("gram_md5", nDocs,
        toks.select(keys :+ sort_array(expr(s"gram_md5(w, $n)")).as("hs"): _*)
          .filter(size(col("hs")) > 0),
        gramBuiltin),
      Pair("winnow_sels", nDocs,
        toks.select(keys :+ call_function("winnow_sels", col("w"),
            lit(gramN), lit(window)).as("wn"): _*)
          .filter(col("wn").isNotNull)
          .select(keys ++ Seq(col("wn.n_grams").as("n_grams"),
            col("wn.sels").as("sels")): _*),
        winnowBuiltin),
      Pair("topk_by_score", nProbePairs,
        GraftOps.similarityTopK(corpus, probes, k),
        topkBuiltin.select("probe_id", "vec_id", "cos_sim", "rank")))
  }

  def run(spark: SparkSession, dir: String, out: File, reps: Int): Unit = {
    val json = new Json
    val ps = pairs(spark, dir)
    val rows = ps.map { p =>
      val nativeS = timeNoop(p.native, reps)
      val builtinS = timeNoop(p.builtin, reps)
      val b = p.builtin.select(p.native.columns.map(col): _*)
      val equal = p.native.exceptAll(b).isEmpty && b.exceptAll(p.native).isEmpty
      json.obj("fn" -> p.name, "rows" -> p.rows, "native_s" -> nativeS,
        "builtin_s" -> builtinS, "equal" -> equal)
    }
    spark.catalog.clearCache()
    val w = new PrintWriter(new File(out, "kernels.json"), "UTF-8")
    try w.write(rows.mkString("[", ",\n", "]")) finally w.close()
  }
}
