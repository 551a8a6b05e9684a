package app

object Core {
  def used(x: Int): Int = x + 1
  // dead is named in this comment, which is not a reference
  def dead(x: Int): Int = x * 2
  def onlySpecs(x: Int): Int = x - 1
  def kept(x: Int): Int = x
  def live(x: Int): Int = used(x)
}

class Square {
  override def toString: String = "square"
}

object Main {
  def main(args: Array[String]): Unit = println(Core.live(1) + new Square().hashCode)
}
