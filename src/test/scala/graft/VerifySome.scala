// dump SEVERAL queries' results + oracle sql for fast local iteration,
// on graft.Verify's session and output format:
// runMain VerifySome q1,q2,... <sfDir> <outDir>
object VerifySome {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain VerifySome q1,q2,... <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(names, sfDir, outDir) = args.take(3)
    graft.Verify.run(names.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      sfDir, outDir)
  }
}
