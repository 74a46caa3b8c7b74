package graft

import graft.operators.ShardManifest

/** Data-skipping manifest: stats fidelity. */
class ShardManifestSpec extends SparkSpec {

  test("manifest stats describe the written shards exactly") {
    import spark.implicits._
    val dir = tmpDir("shardmanifest") + "/t"
    val rows = (0L until 1000L).map(k => (k, s"v$k"))
    ShardManifest.writeSharded(rows.toDF("k", "v"), dir, "k", width = 100L)
    val mf = ShardManifest.manifest(spark, dir, Seq("k"))
      .orderBy("shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(mf.toSeq === (0L until 10L).map(s =>
      (s, 100L, s * 100, s * 100 + 99)))
  }
}
