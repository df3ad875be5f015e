package perfbench

/** Prints the catalog's entry names as a JSON array (for the recorder). */
object ListEntries {
  def main(args: Array[String]): Unit =
    println(Json.render(graft.SparkEntry.queries.keys.toSeq.sorted))
}
