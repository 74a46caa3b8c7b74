package graft

import graft.operators.ProductStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The parquet store's write side on failure: a write that throws —
  * in its Spark staging write or inside the version build — must leave
  * the root as it found it: no `_staging_*` directory, no unpublished
  * `versions/v-*` directory (it would sort newest and take a retention
  * slot), and CURRENT untouched. The parquet twin of the JDBC store's
  * orphaned-staging-table check.
  */
class ProductStoreWriteSpec extends SparkSpec {
  import spark.implicits._

  private def batch(clientId: Int, rows: (String, String)*): DataFrame =
    rows.map { case (sku, title) => (clientId, sku, title) }
      .toDF("client_id", "sku", "title")

  private def names(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** (versions, CURRENT) of `root`; asserts no staging or pointer temp
    * file is left at the top level.
    */
  private def settled(root: String): (Set[String], String) = {
    val leftovers = names(root).filter(n => n.startsWith("_staging_") || n.startsWith("_ptr_"))
    assert(leftovers.isEmpty, s"failed write left $leftovers under the root")
    (names(s"$root/versions"), Files.readString(Paths.get(root, "CURRENT")))
  }

  private def assertCleanFailure(root: String)(write: => Unit): Unit = {
    val before = settled(root)
    intercept[Exception](write)
    assert(settled(root) === before, "failed write changed versions/ or CURRENT")
  }

  test("a write failing in the version build leaves no staging or version directory") {
    val root = tmpDir("store-failbuild")
    // A opens the empty root unbucketed; B, a concurrent writer with
    // another layout, publishes first — every later A build must fail
    // its layout re-check, which runs after the version is built
    val a = new ProductStore(spark, root)
    new ProductStore(spark, root, skuBuckets = Some(8))
      .overwriteClientAtomic(1, batch(1, "a1" -> "A"))
    val writes: Seq[(String, () => Unit)] = Seq(
      "overwriteAtomic" -> (() => a.overwriteAtomic(batch(2, "b1" -> "B"))),
      "append" -> (() => a.append(batch(2, "b1" -> "B"))),
      "overwriteClientAtomic" -> (() => a.overwriteClientAtomic(1, batch(1, "a2" -> "B"))),
      "truncateClient" -> (() => a.truncateClient(1)))
    writes.foreach { case (what, write) =>
      val before = settled(root)
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("buckets=8"), s"$what: expected the layout check, got $e")
      assert(settled(root) === before, s"$what: failed write changed versions/ or CURRENT")
    }
  }

  test("a write failing in its staging write leaves no staging directory") {
    val root = tmpDir("store-failstage")
    val store = new ProductStore(spark, root)
    store.overwriteClientAtomic(1, batch(1, "a1" -> "A"))
    val poison = batch(1, "a1" -> "A", "a2" -> "A")
      .withColumn("title", when(col("sku") === "a2",
        raise_error(lit("staging write fails"))).otherwise(col("title")))
    assertCleanFailure(root)(store.overwriteClientAtomic(1, poison))
    assertCleanFailure(root)(store.overwriteAtomic(poison))
    assertCleanFailure(root)(store.append(poison))
    assert(store.readClient(1).select("sku").as[String].collect().toSeq === Seq("a1"))
  }
}
