package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Tables

class SourcesAndClustersSpec extends AnyFunSuite {
  import TestSpark._

  test("CSV round-trip with the enforced transaction schema") {
    val txns = tx(
      ("E001", "C001", 100.0, "2024-01-01T10:30:45", "earned"),
      ("S001", "C001", -60.5, "2024-01-05T08:15:00", "spent"))
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    txns.coalesce(1).write.option("header", "true").csv(s"$dir/txns")

    val back = Tables.readTransactionsCsv(spark, s"$dir/txns")
    assert(back.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ===
      Tables.transactionSchema.fields.map(f => (f.name, f.dataType.typeName)).toSeq)
    val rows = back.orderBy("transaction_id").collect()
    assert(rows.length === 2)
    assert(rows.head.getAs[String]("transaction_id") === "E001")
    assert(rows.head.getAs[Double]("amount") === 100.0)
    assert(rows.head.getAs[java.time.LocalDateTime]("timestamp") ===
      java.time.LocalDateTime.of(2024, 1, 1, 10, 30, 45))
    // malformed amounts arrive as nulls for the validation layer, not errors
    val badDir = java.nio.file.Files.createTempDirectory("graft-csv-bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$badDir/bad.csv"),
      "transaction_id,customer_id,amount,timestamp,transaction_type\nT1,C1,notanumber,2024-01-01T00:00:00,earned\n")
    val bad = Tables.readTransactionsCsv(spark, s"$badDir/bad.csv").collect()
    assert(bad.length === 1 && bad.head.isNullAt(2))
  }

  test("every table reads with the schema parquet inference gives, in no Spark job") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val names = new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).sorted
      assert(names.contains("events"))
      names.foreach { name =>
        val group = s"table_schema_${sf}_$name"
        spark.sparkContext.setJobGroup(group, name)
        val read = try Tables.table(spark, dir, name) finally spark.sparkContext.clearJobGroup()
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
          s"$sf/$name: reading the table ran a Spark job")
        assert(read.schema === spark.read.parquet(s"$dir/$name.parquet").schema, s"$sf/$name")
      }
    }
  }

  test("dedup clusters: min-label propagation finds connected components") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated pairs via transitive closure
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters over real near-dup pairs pick one canonical per group") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.ngramJaccard(docs)
    val clusters = Dedup.dedupClusters(pairs)
    val byCluster = clusters.collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    // every cluster's id is its minimum member
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).min === cid)
    }
  }
}
