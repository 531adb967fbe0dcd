package graft.tools

import graft.util.GraftSession

/** Regenerates the m-family golden-literal oracle rows:
  * `runMain graft.tools.DumpMediaDigests [gate] [outFile]`
  * with gate one of m09 (default, decode digests), m06 (image
  * perceptual pairs), m07 (audio), m08 (video). Prints (and
  * optionally writes) the literal `VALUES` tuples that
  * [[graft.operators.MediaGolden]] pins. Run this ONLY to re-pin after
  * a deliberate fixture or JDK-codec change — the whole point of the
  * gates is that these values never move otherwise.
  */
object DumpMediaDigests {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val gate = args.headOption.getOrElse("m09")
    val mm = graft.operators.Multimodal
    val tuples = (gate match {
      case "m09" =>
        mm.mediaDigests(spark, "").collect().map { r =>
          s"(${r.getLong(0)}, '${r.getString(1)}', ${r.getLong(2)})"
        }
      case "m06" | "m07" | "m08" =>
        val df = gate match {
          case "m06" => mm.mediaPerceptualDedup(spark, "")
          case "m07" => mm.mediaAudioDedup(spark, "")
          case _     => mm.mediaVideoDedup(spark, "")
        }
        df.orderBy("media_a", "media_b").collect().map { r =>
          s"(${r.getLong(0)}, ${r.getLong(1)}, ${r.getInt(2)}, ${r.getLong(3)})"
        }
      case "m01" | "m02" | "m03" | "m04" | "m05" =>
        // all-integer outputs — dump every column generically, sorted
        // by the gate's own presentation order
        val df = gate match {
          case "m01" => mm.mediaAnn(spark, "")
          case "m02" => mm.mediaDedup(spark, "")
          case "m03" => mm.mediaFrameSample(spark, "")
          case "m04" => mm.mediaResize(spark, "")
          case _     => mm.mediaIngest(spark, "")
        }
        df.collect().map { r =>
          (0 until r.length).map { i =>
            r.get(i) match {
              case l: java.lang.Long    => l.toString
              case n: java.lang.Integer => n.toString
              case other => sys.error(s"non-integer column $i: $other")
            }
          }.mkString("(", ", ", ")")
        }
      case other => sys.error(s"unknown gate $other (m01|m02|m03|m04|m05|m06|m07|m08|m09)")
    }).mkString(",\n")
    args.drop(1).headOption match {
      case Some(out) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          tuples.getBytes("UTF-8"))
        println(s"[dumpmediadigests] wrote $gate tuples to $out")
      case None => println(tuples)
    }
    spark.stop()
  }
}
