package graftbench

import java.io.File

/**
 * Class-loading training run for the JVM's class-data-sharing archive:
 * sets up every workload, whose warm-up already runs each op kind, so the
 * archive holds the classes every benchmark run loads. Reports nothing.
 *
 *   Train <work dir>
 */
object Train {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsoluteFile
    val spark = Main.session(work, traced = false)
    Workload.Names.foreach { name =>
      val wl = Workload(name, Ctx(spark, new File(work, name), 1L))
      wl.stage()
      wl.build()
    }
    spark.stop()
  }
}
