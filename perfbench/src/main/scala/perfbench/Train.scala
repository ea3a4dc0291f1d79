package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The build's untimed class-loading run: one session runs one pass of
  * every workload named on the command line, so the JVM that runs it
  * (with `-XX:ArchiveClassesAtExit`) archives the classes all workloads
  * load. Every measured run then maps that archive, so all of them start
  * the JVM the same way.
  *
  * Usage: perfbench.Train <job.properties>...
  */
object Train {
  def main(args: Array[String]): Unit = {
    val jobs = args.toSeq.map { f =>
      val job = new java.util.Properties()
      val in = Files.newBufferedReader(Paths.get(f))
      try job.load(in) finally in.close()
      job
    }
    val first = jobs.head
    val work = Paths.get(first.getProperty("work")).toAbsolutePath
    val spark = Main.session(first.getProperty("cores").toInt, work)
    jobs.foreach { job =>
      val params = job.stringPropertyNames().asScala.filter(_.startsWith("param."))
        .map(k => k.stripPrefix("param.") -> job.getProperty(k)).toMap
      val ctx = new Ctx(spark, Paths.get(job.getProperty("inputs")).toAbsolutePath.toString,
        work, job.getProperty("seed").toLong, params)
      val workload = Workloads.byName(job.getProperty("workload"))
      workload.setup(ctx)
      graft.SessionCache.invalidate(spark)
      workload.pass(ctx, 0).foreach(op => op.build().act())
    }
    spark.stop()
  }
}
