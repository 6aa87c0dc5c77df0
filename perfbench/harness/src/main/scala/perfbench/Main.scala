package perfbench

/** Benchmark harness entry point (driven by perfbench/run.py).
  *
  * {{{
  *   params --seed <s> --dim <d> --out <file>
  *   run    --workload <name> --kind query|store --data <dir> --ops a,b
  *          --tables a,b --seconds <s> --warmup <n> --min-warm <n> --trace 0|1
  *          --cpus <n> --work <dir> --out <file> --spans <file> [--dump <dir>]
  * }}}
  */
object Main {
  private def parse(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  private def list(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Main params|run --key value ...")
    val a = parse(args.toSeq.tail)
    args.head match {
      case "params" =>
        Runner.writeJson(a("out"), Inputs.params(a("seed").toLong, a("dim").toInt))
      case "run" => Runner.run(Conf(
        workload = a("workload"), kind = a("kind"), data = a("data"), ops = list(a("ops")),
        tables = list(a("tables")), seconds = a("seconds").toDouble,
        warmup = a("warmup").toInt, minWarm = a("min-warm").toInt,
        trace = a("trace") == "1", cpus = a("cpus").toInt, work = a("work"), out = a("out"),
        spans = a("spans"), dump = a.getOrElse("dump", "")))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }
}
