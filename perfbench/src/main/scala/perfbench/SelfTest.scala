package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Materialisation self-test: the timed action (`write.format("noop")`)
  * must keep an op's final projection in its physical plan — a `sha2`
  * column is still computed and the graftcsv scan reads the hashed column
  * — where `count()` lets Catalyst prune both. Prints one line per check
  * and exits non-zero on any failure.
  *
  *     java ... perfbench.SelfTest <scratch dir> */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = Harness.session(root)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val csv = new java.io.File(root, "t.csv")
    java.nio.file.Files.write(csv.toPath,
      "a,b\n1,x\n2,y\n3,z\n".getBytes("UTF-8"))
    val df = spark.read.format("graftcsv").load(csv.getPath)
      .select(col("a"), sha2(col("b"), 256).as("h"))

    def planOf(action: DataFrame => Unit): String = {
      plans.synchronized(plans.clear())
      action(df)
      org.apache.spark.perfbenchshim.ListenerBusDrain(spark.sparkContext)
      plans.synchronized(plans.mkString("\n"))
    }
    val noop = planOf(d => d.write.format("noop").mode("overwrite").save())
    val counted = planOf(d => { d.count(); () })
    val readSchema = """ReadSchema: struct<([^>]*)>""".r
    def schemas(p: String) = readSchema.findAllMatchIn(p).map(_.group(1)).toSeq
    val checks = Seq(
      "noop keeps the sha2 projection" -> noop.contains("sha2"),
      "noop scan reads column b" -> schemas(noop).exists(_.contains("b:")),
      "count() prunes the sha2 projection (the gap noop closes)" ->
        !counted.contains("sha2"),
      "count() scan reads no hashed column" ->
        !schemas(counted).exists(_.contains("b:")))
    spark.stop()
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok" else "FAIL"} $n") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
