package pipebench

import java.nio.file.Paths

/** Entry point of one benchmark process. Prints one JSON object with every
  * figure the run took; `run.py` turns it into the benchmark's result line.
  *
  * {{{
  * pipebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--overload-only]
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Map.empty)
    val args = RunArgs(
      workload = a("workload"),
      seed = a("seed").toLong,
      seconds = a("seconds").toInt,
      trace = a.get("trace").contains("1"),
      work = Paths.get(a("work")).toAbsolutePath,
      overloadOnly = a.contains("overload-only"))
    require(args.seconds >= 1, "--seconds must be at least 1")
    val o = new Pipeline(args).run()
    println(Json.render(Map(
      "attempted" -> o.attempted, "failed" -> o.failed, "errors" -> o.errors,
      "end_to_end" -> o.endToEnd, "per_layer" -> o.perLayer,
      "idle_layers" -> o.idleLayers, "detail" -> o.detail)))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    sys.exit(0)
  }

  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] = args match {
    case Nil => acc
    case "--overload-only" :: rest => parse(rest, acc + ("overload-only" -> "1"))
    case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}
