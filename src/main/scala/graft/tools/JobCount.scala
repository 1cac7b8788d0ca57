package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/**
 * Round-17 evidence probe: counts the Spark JOBS a query launches
 * (actions + eager checkpoints + broadcast builds), the fixed-cost
 * driver of the iterative graph loops at test SF — the r16 scaling
 * block showed the whole suite job-latency-bound at sf0.1, so fewer
 * jobs per round IS the optimization. Usage:
 *
 *   runMain graft.tools.JobCount [--dir D] query...
 *
 * Each query runs twice (warm the session) and the SECOND run's job
 * count + wall time are reported. Not part of the driver contract.
 */
object JobCount {
  def main(args: Array[String]): Unit = {
    var dir = "/root/testdata/sf0.01"
    val names = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dir" if i + 1 < args.length => dir = args(i + 1); i += 1
        case q => names += q
      }
      i += 1
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def run(n: String): (Int, Double) = {
      // drain the listener bus so stragglers from the previous query
      // don't leak into this count
      GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark.sparkContext)
      (jobs.get(), dt)
    }
    names.result().foreach { n =>
      spark.sparkContext.setJobDescription(s"jobcount: $n")
      run(n) // warm
      val (j, dt) = run(n)
      println(f"[jobs] $n%-32s jobs=$j%-4d wall=$dt%.2f s")
    }
    spark.stop()
  }
}
