package graft

import org.apache.spark.sql.functions._

import graft.operators.TableStore
import graft.tools.Study

/** Measures the point of `TableStore.append`: adding a small batch to a
  * large table must cost O(new data), not O(table). Builds an N-row
  * table once, then compares appending a small batch via `append`
  * (stage small files + hardlink the rest + one directory swap) against
  * the rewrite path (`overwrite(existing ∪ batch)`), at growing N.
  *
  * Usage: runMain graft.StressAppend [rows] [batch]
  * Results recorded in SCALE.md.
  */
object StressAppend {

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 20000000L
    val batch = if (args.length > 1) args(1).toLong else 10000L
    val study = Study("append")
    val spark = study.spark
    def time[T](body: => T): Double = study.measure(body).seconds
    def payload(n: Long, offset: Long = 0L) = spark.range(n).select(
      (col("id") + offset).as("id"),
      (col("id") % 1000).cast("string").as("k"),
      (col("id") * 31 % 100000).cast("double").as("v"))

    for (n <- Seq(rows / 10, rows)) {
      val store = new TableStore(spark,
        graft.queries.GateScratch.dir(s"graft-append-$n-").toString)
      store.overwrite("t", payload(n))
      val tAppend = time(store.append("t", payload(batch, offset = n)))
      val tRewrite = time(
        store.overwrite("t", store.read("t").unionByName(payload(batch, offset = n + batch))))
      val count = store.read("t").count()
      println(f"[append] rows=$n%,d batch=$batch%,d  append=${tAppend}%6.2f s" +
        f"  rewrite=${tRewrite}%7.2f s  (${tRewrite / tAppend}%4.1fx)  final=$count%,d")
    }
    study.stop()
  }
}
