// Where a key-pinned graft-doc lookup's time goes (ROADMAP direction 8).
// Run from the repository root after `sbt compile`:
//   spark-shell --master "local[4]" --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.hadoop.fs.file.impl=graft.ForklessLocalFileSystem \
//     --conf spark.hadoop.fs.AbstractFileSystem.file.impl=graft.ForklessLocalFs \
//     --driver-class-path target/scala-2.13/classes -i plans/bucketed-commits/lookup_phases_probe.scala
import org.apache.spark.sql.functions._
import graft.connector._
val spark = graft.GraftSession.configure(org.apache.spark.sql.SparkSession.builder().master("local[4]").config("spark.sql.shuffle.partitions","4")).getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
val p = java.nio.file.Files.createTempDirectory("lookup_phases").toString
def docs(ks: org.apache.spark.sql.DataFrame, v: Int) = ks.select(col("id").as("k"), (col("id")*7 % 15000).as("o_custkey"), lit(v).as("ver"), (pmod(col("id")*2654435761L, lit(10000000L))/100.0).as("o_totalprice"), lit("1-URGENT").as("o_orderpriority"), date_add(lit("1992-01-01").cast("date"), pmod(col("id"), lit(2400)).cast("int")).as("o_orderdate"))
GraftDoc.write(docs(spark.range(1, 150001).toDF("id"), 0), "k", p, overwrite = true)
(1 to 3).foreach(j => GraftDoc.write(docs(spark.range(1, 5001).toDF("id").select((col("id") * 29 + j).as("id")), j), "k", p))
def t[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e6) }
val keys = (1 to 400).map(i => (i * 373 % 150000 + 1).toString)
val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
keys.zipWithIndex.foreach { case (k, i) =>
  val (_, ts) = t(GraftDocLog.tableState(p))
  val (_, rs) = t(GraftDocLog.readSchema(p))
  val (_, ls) = t(GraftDocLog.listCommitFileInfosInRange(p, 0L, Long.MaxValue, withStats = true))
  val t0 = System.nanoTime()
  val df = GraftDoc.snapshot(spark, p).filter(col("_id") === k).select("ver", "o_totalprice")
  val t1 = System.nanoTime()
  df.queryExecution.optimizedPlan
  val t2 = System.nanoTime()
  df.queryExecution.executedPlan
  val t3 = System.nanoTime()
  df.collect()
  val t4 = System.nanoTime()
  if (i >= 100) rows += Array(ts, rs, ls, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t4 - t3) / 1e6, (t4 - t0) / 1e6)
}
val names = Seq("tableState", "readSchema", "stats listing (manifests)", "DataFrame build", "optimize", "physical planning", "collect (job)", "lookup total")
names.zipWithIndex.foreach { case (n, j) =>
  val v = rows.map(_(j)).sorted
  println(f"[probe2] $n%-28s p25=${v(v.size / 4)}%.1f p50=${v(v.size / 2)}%.1f p75=${v(3 * v.size / 4)}%.1f ms")
}
println(s"[probe2] ${rows.size} lookups after 100 warm-up, 150k docs + 3 commits, local[4]")
System.exit(0)
