package perfbench

/** The benchmark's workloads, by name. */
object Workloads {
  val names = Seq("weather", "corpus", "gates")

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def make(a: Main.Args): Main.Workload = a.workload match {
    case "weather" => new WeatherWorkload(a.seed, a.seconds, cores, a.expected, a.traceOut)
    case "corpus" => new CorpusWorkload(a.seed)
    case "gates" => new GatesWorkload(a.seed, a.expected, a.traceOut)
  }
}
