package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}

/** The two filesystem steps every commit protocol in the engine is built
  * from — the metadata store's segment publish and `CURRENT` swap, the pair
  * manifest ([[PairCommit]]), and the stream-log compactors
  * ([[graft.streaming.EventStream]]). A protocol stages its data under a
  * name no reader looks at, then makes it visible with [[promote]] and
  * records the new state with [[writeAtomically]]; a crash between any two
  * steps leaves either the old or the new state readable, never a partial
  * one.
  */
object Commit {

  /** Called with the step's name (`promote <target>` / `write <target>`)
    * before each step runs. No-op by default; crash tests bind it to
    * snapshot the filesystem at an exact step, which is the state a crash
    * just before that step would leave.
    */
  private[graft] val stepHook = new scala.util.DynamicVariable[String => Unit](_ => ())

  /** Run `op` with a crash scripted just before the step named `step`: the
    * tree under `root` is copied to `crashed` (which must not exist) at that
    * moment, so `crashed` holds what a crash there would leave on disk,
    * while `op` itself runs to completion on `root`.
    */
  private[graft] def crashCopy[A](root: Path, crashed: Path, step: String)(op: => A): A =
    stepHook.withValue(s => if (s == step) graft.util.FsUtil.copyRecursively(root, crashed))(op)

  /** Publish a fully written staging directory under its final name with one
    * atomic rename. `target` must not exist.
    */
  def promote(staging: Path, target: Path): Unit = {
    stepHook.value(s"promote ${target.getFileName}")
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Replace a pointer or marker file: write a hidden temp sibling, then
    * atomically rename it over `target` — a reader sees the old content or
    * the new, never an empty or half-written file.
    */
  def writeAtomically(target: Path, content: String): Unit = {
    stepHook.value(s"write ${target.getFileName}")
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}
