package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Times every registered query two ways on the generated tables:
  * `.count()` (what `graft.Bench` times, which column pruning can cut
  * short) and full materialization through the `noop` sink (what the
  * benchmark times). Writes a markdown table, heaviest ratio first.
  *
  * {{{
  * Ratios <work dir> <out.md>
  * }}}
  */
object Ratios {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cores, work)
    val dir = s"$work/data"
    Data.writeTables(spark, dir, Main.TablesSf, 1L)
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def noop(): Unit = fn(spark, dir).write.format("noop").mode("overwrite").save()
      noop() // warm: store builds and code generation
      val count = Seq.fill(2)(ms(fn(spark, dir).count())).min
      val full = Seq.fill(2)(ms(noop())).min
      (name, count, full)
    }
    val table = rows.sortBy { case (_, c, f) => -f / c }.map { case (n, c, f) =>
      f"| `$n` | $c%.0f | $f%.0f | ${f / c}%.2f |"
    }
    val header = Seq("| query | count ms | noop ms | ratio |", "|---|---:|---:|---:|")
    Files.write(Paths.get(out), (header ++ table).mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
