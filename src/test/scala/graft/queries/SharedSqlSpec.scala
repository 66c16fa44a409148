package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** One builder per shared oracle sub-plan: the MinHash signature, the
  * raw-PQ encode and the recall leg are each spelled out once under
  * `graft/queries`, so an edit to one cannot leave a stale copy behind that
  * silently disagrees with its Spark twin. */
class SharedSqlSpec extends AnyFunSuite {

  private val shared = Seq(
    "MinHash signature SQL" ->
      "list_min(list_transform(shingles, s -> substring(md5(s)",
    "raw-PQ encode CTE" ->
      "vec_id AS cid, j, embedding[j*8+1 : j*8+8] AS subv",
    "recall-leg SQL" ->
      "LEFT JOIN a_$name a ON e.qid = a.qid AND e.cid = a.cid")

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
