package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with SparkSuite {

  test("a span reports exactly the jobs it ran and none leak into the next") {
    val t = new Tracer(spark)
    t.attach()
    try {
      t.recording = true
      val sc = spark.sparkContext
      // each RDD count is exactly one job
      t.span("three")((1 to 3).foreach(i => sc.parallelize(1 to 100, 2).map(_ * i).count()))
      t.span("two")((1 to 2).foreach(_ => sc.parallelize(1 to 100, 3).count()))
      t.span("none")(Thread.sleep(5))
      t.drain() // no sleeping: wait for the listener bus itself
      def jobs(name: String) = t.jobsIn(Set(t.spans.find(_.name == name).get.id))
      assert(jobs("three").size == 3)
      assert(jobs("two").size == 2)
      assert(jobs("none").isEmpty)
      assert(jobs("three").map(_.sums.tasks).sum == 6)
      assert(jobs("two").map(_.sums.tasks).sum == 6)
      // recording off: jobs are counted for the repeat guard only
      t.recording = false
      val before = t.jobsStarted
      sc.parallelize(1 to 10).count()
      t.drain()
      assert(t.jobsStarted == before + 1)
      assert(t.jobs.size == 5)
    } finally t.detach()
  }

  test("nested spans own their jobs; the parent's subtree sees all of them") {
    val t = new Tracer(spark)
    t.attach()
    try {
      t.recording = true
      val sc = spark.sparkContext
      t.span("outer") {
        sc.parallelize(1 to 10).count()
        t.span("inner")(sc.parallelize(1 to 10).count())
        sc.parallelize(1 to 10).count()
      }
      t.drain()
      val outer = t.spans.find(_.name == "outer").get
      val inner = t.spans.find(_.name == "inner").get
      assert(inner.parent == outer.id)
      assert(t.jobsIn(Set(outer.id)).size == 2)
      assert(t.jobsIn(Set(inner.id)).size == 1)
      assert(t.jobsIn(t.subtree(outer)).size == 3)
    } finally t.detach()
  }

  test("commands are attributed to their span and classified by what they write") {
    val t = new Tracer(spark)
    t.attach()
    try {
      t.recording = true
      spark.sql("CREATE DATABASE IF NOT EXISTS trace_db")
      t.span("state")(spark.range(3).toDF("x").write.saveAsTable("trace_db._airbyte_state"))
      t.span("write")(spark.range(3).toDF("x").write.saveAsTable("trace_db.stream_a"))
      t.span("swap") {
        spark.sql("ALTER TABLE trace_db.stream_a RENAME TO trace_db.stream_b")
        spark.sql("DROP TABLE trace_db.stream_b")
      }
      t.drain()
      def kinds(name: String) = {
        val ids = Set(t.spans.find(_.name == name).get.id)
        val xs = t.execsIn(ids)
        xs.filter(x => x.execId == x.rootId).map { r =>
          val fam = xs.filter(_.rootId == r.execId)
          Layers.kind(fam, t.jobsIn(ids).exists(j => fam.exists(_.execId == j.execId)))
        }
      }
      assert(kinds("state") == Seq(Layers.State))
      assert(kinds("write") == Seq(Layers.Write))
      assert(kinds("swap") == Seq(Layers.Swap, Layers.Swap))
      // the QueryExecutionListener named each swap command
      val swaps = t.execsIn(Set(t.spans.find(_.name == "swap").get.id))
      assert(swaps.map(_.command).toSet == Set("AlterTableRenameCommand", "DropTable"))
    } finally {
      t.detach()
      spark.sql("DROP DATABASE IF EXISTS trace_db CASCADE")
    }
  }

  test("busy time merges overlapping jobs") {
    val t = new Tracer(spark)
    val a = new JobRec(1, 0, -1, 1000); a.endMs = 1500
    val b = new JobRec(2, 0, -1, 1200); b.endMs = 1700
    val c = new JobRec(3, 0, -1, 2000); c.endMs = 2100
    assert(t.busySeconds(Seq(a, b, c)) == 0.8)
  }
}
