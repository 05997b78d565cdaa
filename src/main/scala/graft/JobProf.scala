package graft

import graft.pipeline.QueryMetricsListener

/** Per-job profiler for a named gate: runs the query once warm, once
  * profiled, and prints every Spark job's wall time, stage count, task
  * count and summed task time — the empirical loop of guide §1.1 for a
  * UI-less sandbox. `runMain graft.JobProf <name> [sfDir]`. */
object JobProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = BenchUtil.session()
    // warm (codegen/JIT) run, then the profiled run on cold caches
    BenchUtil.dropBallast(spark)
    try SparkEntry.queries(name)(spark, sfDir).count()
    catch { case _: Throwable => () }
    BenchUtil.dropBallast(spark)

    val ((n, wall), l) = QueryMetricsListener.during(spark) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    l.stages.foreach { s =>
      println(f"[stage] #${s.id}%-4d job=${s.job}%-4d " +
        f"${s.durMs / 1000.0}%7.2f s tasks=${s.tasks}%-5d ${s.scopes.take(120)}")
    }
    val jobs = l.jobs
    println(f"### $name wall=$wall%.2f s rows=$n jobs=${jobs.size}")
    var acc = 0L
    var prevEnd = -1L
    jobs.foreach { j =>
      val dur = if (j.end >= 0) j.end - j.start else -1L
      val gap = if (prevEnd >= 0) j.start - prevEnd else 0L
      prevEnd = math.max(prevEnd, j.end)
      acc += math.max(dur, 0L)
      println(f"[job] #${j.id}%-4d ${dur / 1000.0}%7.2f s  gap=${gap / 1000.0}%6.2f  " +
        f"stages=${j.stageCount}%-3d tasks=${j.tasks}%-5d taskTime=${j.runMs / 1000.0}%8.2f s " +
        f"shufRead=${j.shuffleRead / 1024 / 1024}%6d MB  ${j.desc}")
    }
    println(f"[job] sum of job durations: ${acc / 1000.0}%.2f s (wall $wall%.2f)")
    spark.stop()
  }
}
