package bench

object Harness {
  def main(args: Array[String]): Unit = println(app.Core.live(2))
}
