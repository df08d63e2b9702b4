package e2ebench

/** Entry point of the benchmark's JVM: `--mode batch|ingest` plus that
  * mode's options. The run record goes to the JSON file named by `--out`;
  * progress lines go to stdout for the client process. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    o.str("mode") match {
      case "batch" => Batch.main(o)
      case "ingest" => Ingest.main(o)
      case m => sys.error(s"unknown --mode $m")
    }
  }
}
