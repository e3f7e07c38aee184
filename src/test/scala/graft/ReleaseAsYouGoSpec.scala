package graft

import org.scalatest.funsuite.AnyFunSuite

/** r16 (VERDICT r15 #4): release-as-you-go for the sliced verify's
  * standing checkpoints — the named ×8192 binding resource. With
  * verifySlices ≥ 2, q37's candidate table is split into its two
  * consumers (exact shortcut + verify work-list) as smaller
  * checkpoints, and every standing checkpoint is released the moment
  * its last consumer materializes. The value contract (sliced ≡
  * unsliced pair set) is pinned by DedupSpec's identity test, which
  * runs THROUGH the split path; this spec pins the release lifecycle
  * itself.
  */
class ReleaseAsYouGoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import graft.queries.DedupQueries

  test("sliced q37 releases each standing checkpoint as its consumers land") {
    import scala.jdk.CollectionConverters._
    spark.conf.set(Conf.VerifySlices.key, "2")
    DedupQueries.releasedCheckpoints.clear()
    val rows = try SparkEntry.queries("q37_ngram_jaccard")(spark, sf).count()
      finally spark.conf.unset(Conf.VerifySlices.key)
    assert(rows > 0)
    val released = DedupQueries.releasedCheckpoints.asScala.toList
    // buckets + pairs + work-list + exact shortcut + 2 slice outputs
    assert(released.size >= 6,
      s"expected >= 6 release-as-you-go checkpoints, got $released")
    val registry = spark.sparkContext.getPersistentRDDs.keySet
    released.foreach { case (id, _) =>
      assert(!registry(id),
        s"released checkpoint rdd_$id still in the persistent registry")
    }
  }
}
