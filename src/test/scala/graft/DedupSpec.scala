package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupOps

class DedupSpec extends SparkSpec {

  test("exact dedup finds the planted copies and only them") {
    val out = DedupOps.exactDedup(spark, sf)
    val dups = out.filter(col("is_dup")).collect()
    assert(dups.nonEmpty)
    // every dup is a planted id (original + 100000) pointing at its source
    assert(dups.forall(r => r.getLong(0) == r.getLong(1) + 100000))
  }

  test("minhash bands collide for perturbed near-duplicates") {
    val bands = DedupOps.minhashBands(spark, sf)
    val a = bands.select(col("doc_id"), explode(array(col("band_0"),
      col("band_1"), col("band_2"), col("band_3"))).as("bk"))
    val pairs = a.as("x").join(a.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") + 100000 === col("y.doc_id"))
      .select(col("x.doc_id")).distinct().count()
    val planted = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 17 === 0).count()
    // near-dup pairs share >= 1 band with overwhelming probability
    assert(pairs >= planted * 9 / 10)
  }

  test("lsh jaccard pairs recover planted near-dups with high jaccard") {
    val pairs = DedupOps.lshJaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    val plantedPairs = pairs.filter { case (a, b, _) => b == a + 100000 }
    assert(plantedPairs.nonEmpty && plantedPairs.forall(_._3 > 0.6))
  }

  test("weighted simhash pairs recover planted near-dups within hamming 5") {
    val pairs = DedupOps.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty && pairs.forall(_._3 <= 5))
    assert(pairs.exists { case (a, b, _) => b == a + 100000 })
  }

  test("simhash is deterministic and near-uniform across docs") {
    val h1 = DedupOps.simhash(spark, sf).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val h2 = DedupOps.simhash(spark, sf).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(h1.sameElements(h2))
    assert(h1.forall { case (_, h) => h >= 0 && h < (1L << 24) })
    // distinct fingerprints for distinct random docs (no degenerate constant)
    assert(h1.map(_._2).distinct.length > h1.length / 2)
  }
}
