package graft

import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin
import graft.tools.Study

/** Scale study for the grid-tile spatial join: arithmetic geometry on a
  * 100k×100k plane — `points` uniformly scattered points, `boxes` axis-
  * aligned boxes with sides in [2, ~120) — timed at full size through
  * [[SpatialJoin.pointsInBoxes]], and contrasted against Spark's own
  * plan for the raw BETWEEN predicate (BroadcastNestedLoopJoin) on a
  * small slice, because the full nested loop would be |P|·|B| compares.
  *
  * Usage: runMain graft.StressSpatial [points] [boxes]
  * Results recorded in SCALE.md.
  */
object StressSpatial {

  def main(args: Array[String]): Unit = {
    val nPoints = if (args.length > 0) args(0).toLong else 2000000L
    val nBoxes = if (args.length > 1) args(1).toLong else 100000L
    val study = Study("spatial")
    val spark = study.spark

    val side = 100000L
    def points(n: Long) = spark.range(n).select(
      col("id").as("point_id"),
      ((col("id") * 2654435761L) % side).cast("double").as("x"),
      ((col("id") * 40503L + 7L) % side).cast("double").as("y"))
    def boxes(n: Long) = spark.range(n).select(
      col("id").as("box_id"),
      ((col("id") * 97_001L) % (side - 200L)).cast("double").as("xlo"),
      ((col("id") * 97_001L) % (side - 200L) + (col("id") % 119L) + 2L)
        .cast("double").as("xhi"),
      ((col("id") * 57_731L + 13L) % (side - 200L)).cast("double").as("ylo"),
      ((col("id") * 57_731L + 13L) % (side - 200L) + (col("id") % 97L) + 2L)
        .cast("double").as("yhi"))

    def time[T](body: => T): (T, Double) = {
      val m = study.measure(body)
      (m.value, m.seconds)
    }

    // warm the JIT/codegen once
    SpatialJoin.pointsInBoxes(points(10000), boxes(1000), 50.0).count()

    for (cell <- Seq(20.0, 50.0, 200.0)) {
      val (n, t) = time(
        SpatialJoin.pointsInBoxes(points(nPoints), boxes(nBoxes), cell).count())
      println(f"[spatial] tiled   cell=$cell%6.0f  ${nPoints}%,d pts x ${nBoxes}%,d boxes" +
        f"  pairs=$n%,d  ${t}%6.2f s")
    }

    // Spark's own plan for the raw predicate: BroadcastNestedLoopJoin.
    // 1/100 of each side ≈ 1/10000 of the compare volume.
    val (pSlice, bSlice) = (nPoints / 100, nBoxes / 100)
    val p = points(pSlice); val b = boxes(bSlice)
    val (nNaive, tNaive) = time(
      p.join(b,
        col("x") >= col("xlo") && col("x") <= col("xhi") &&
          col("y") >= col("ylo") && col("y") <= col("yhi")).count())
    println(f"[spatial] nested  (slice) ${pSlice}%,d pts x ${bSlice}%,d boxes" +
      f"  pairs=$nNaive%,d  ${tNaive}%6.2f s" +
      f"  (~${tNaive * 10000 / 60}%,.0f min extrapolated to full size)")
    study.stop()
  }
}
