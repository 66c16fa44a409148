package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** One builder per shared sub-plan: the oracle's MinHash signature, raw-PQ
  * encode, trained residual-PQ encode and recall leg, and the Spark-side
  * shingle and signature frames, are each spelled out once under
  * `graft/queries`, so an edit to one cannot leave a stale copy behind that
  * silently disagrees with its twin. */
class SharedSqlSpec extends AnyFunSuite {

  private val shared = Seq(
    "MinHash signature SQL" ->
      "list_min(list_transform(shingles, s -> substring(md5(s)",
    "raw-PQ encode CTE" ->
      "vec_id AS cid, j, embedding[j*8+1 : j*8+8] AS subv",
    "recall-leg SQL" ->
      "LEFT JOIN a_$name a ON e.qid = a.qid AND e.cid = a.cid",
    "trained residual-PQ encode SQL" ->
      "ROW_NUMBER() OVER (PARTITION BY r.cid, r.j",
    "Spark shingle frame" ->
      """.withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))""",
    "Spark signature frame" ->
      """graft.functions.MinhashFunctions.minhashSignature(col("shingles"))""")

  test("shared oracle sub-plans are spelled out once under src/main/scala/graft/queries") {
    val sources = graft.SparkTestBase.scalaSources("src/main/scala/graft/queries")
    for ((what, marker) <- shared) {
      val hits = sources.flatMap { case (file, text) =>
        Iterator.iterate(text.indexOf(marker))(i => text.indexOf(marker, i + 1))
          .takeWhile(_ >= 0).map(_ => file)
      }
      assert(hits.size == 1, s"$what must be spelled out exactly once, found in: $hits")
    }
  }
}
