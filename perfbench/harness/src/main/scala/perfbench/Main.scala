package perfbench

/** Engine-side entry of the benchmark: `--mode queries|stream` plus
  * `--key value` pairs written by `perfbench/run.py`. Writes its raw
  * measurements as JSON to `--out`; `run.py` turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "queries" => Queries.run(o)
      case "stream" => Stream.run(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }
}
