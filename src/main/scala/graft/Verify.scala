package graft

/** Driver entry point for the correctness dump:
  * `graft.Verify <sfDir> <outDir> [gate,gate,…]` is
  * `graft.GateRunner verify` with the same arguments. */
object Verify {
  def main(args: Array[String]): Unit = GateRunner.main("verify" +: args)
}
