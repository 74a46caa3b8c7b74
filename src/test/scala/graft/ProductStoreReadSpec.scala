package graft

import graft.operators.ProductStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._

/** The parquet store's read side: one resolved relation per published
  * version. A read must never be stale — any publish, from any instance
  * on the root, is visible on the next call — and two reads of one
  * version must share the resolved file listing instead of re-listing.
  */
class ProductStoreReadSpec extends SparkSpec {
  import spark.implicits._

  private def batch(clientId: Int, rows: (String, String)*): DataFrame =
    rows.map { case (sku, title) => (clientId, sku, title) }
      .toDF("client_id", "sku", "title")

  private def state(df: DataFrame): Seq[(String, String)] =
    df.select("sku", "title").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)

  private def fileIndex(df: DataFrame): InMemoryFileIndex =
    df.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(fs: HadoopFsRelation) => fs.location match {
        case idx: InMemoryFileIndex => idx
        case other => fail(s"expected an InMemoryFileIndex, got $other")
      }
      case other => fail(s"expected a file relation scan, got $other")
    }

  private val seeded = Seq("a1" -> "A", "a2" -> "A")

  /** Store A seeds tenant 1 and primes its cache with a read; store B,
    * opened on the same root, publishes; A's very next read must show
    * B's state. keepVersions = 1 makes a stale entry fail loud as well:
    * B's publish garbage-collects the version A cached.
    */
  private def assertFreshAfter(skuBuckets: Option[Int] = None)(
      publish: ProductStore => Unit, want: Seq[(String, String)]): Unit = {
    val root = tmpDir("store-fresh")
    val a = new ProductStore(spark, root, keepVersions = 1, skuBuckets = skuBuckets)
    a.overwriteClientAtomic(1, batch(1, seeded: _*), marker = Some("m-1"))
    assert(state(a.readClient(1)) === seeded)
    val primed = fileIndex(a.readClient(1))
    publish(new ProductStore(spark, root, keepVersions = 1, skuBuckets = skuBuckets))
    assert(state(a.readClient(1)) === want)
    assert(!(fileIndex(a.readClient(1)) eq primed), "read resolved a stale version")
  }

  test("freshness: another instance's overwriteClientAtomic is seen on the next read") {
    assertFreshAfter()(_.overwriteClientAtomic(1, batch(1, "b1" -> "B")), Seq("b1" -> "B"))
  }

  test("freshness: another instance's truncateClient is seen on the next read") {
    assertFreshAfter()(_.truncateClient(1), Seq.empty)
  }

  test("freshness: another instance's append is seen on the next read") {
    assertFreshAfter()(_.append(batch(1, "b1" -> "B")), seeded :+ ("b1" -> "B"))
  }

  test("freshness: another instance's retireMarkers publish is seen on the next read") {
    assertFreshAfter()(b => {
      b.retireMarkers(_ => false)
      assert(!b.hasMarker("m-1"))
    }, seeded)
  }

  test("freshness: another instance's overwriteClientBucketsAtomic is seen on the next read") {
    val n = 8
    val rewrite = batch(1, "a1" -> "B", "a2" -> "B")
    val buckets = rewrite.select(ProductStore.bucketOf(col("sku"), n)).distinct()
      .as[Int].collect().toSeq
    assertFreshAfter(Some(n))(
      _.overwriteClientBucketsAtomic(1, buckets, rewrite), Seq("a1" -> "B", "a2" -> "B"))
  }

  test("empty store: first publish is seen by the next read") {
    val store = new ProductStore(spark, tmpDir("store-empty"))
    assert(!store.exists)
    assert(store.read().count() === 0)
    assert(store.readClient(1).count() === 0)
    store.overwriteClientAtomic(1, batch(1, seeded: _*))
    assert(state(store.readClient(1)) === seeded)
    assert(state(store.read()) === seeded)
  }

  test("reuse: reads of one version share the resolved listing, a publish replaces it") {
    val store = new ProductStore(spark, tmpDir("store-reuse"))
    store.overwriteClientAtomic(1, batch(1, seeded: _*))
    store.overwriteClientAtomic(2, batch(2, "c1" -> "C"))
    val first = fileIndex(store.readClient(1))
    assert(fileIndex(store.readClient(1)) eq first)
    assert(fileIndex(store.readClient(2)) eq first)
    assert(fileIndex(store.read()) eq first)
    store.overwriteClientAtomic(2, batch(2, "c2" -> "C"))
    val next = fileIndex(store.readClient(1))
    assert(!(next eq first))
    assert(fileIndex(store.readClient(1)) eq next)
    assert(state(store.readClient(2)) === Seq("c2" -> "C"))
  }
}
