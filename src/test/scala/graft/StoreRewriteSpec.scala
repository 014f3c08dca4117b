package graft

import org.scalatest.funsuite.AnyFunSuite

/** Two store rules are written out once: which names a store listing
  * hides (`Parquet.hidden`, Spark's own rule, which `Parquet.dataFiles`
  * applies to a whole walk), and how a store directory is replaced
  * (`LogStore.swapIn`, with `restoreParked` finishing a crashed swap).
  */
class StoreRewriteSpec extends AnyFunSuite {

  test("hidden path names are decided only by Parquet.hidden") {
    MainSources.assertOnly(MainSources.all.flatMap(_.hits("""startsWith\("[_.]"\)""".r)),
      Set("Parquet.scala:hidden"), "Parquet.dataFiles")
  }

  test("store directories are renamed only by restoreParked and swapIn") {
    val allowed = Set("LogStore.scala:restoreParked", "LogStore.scala:swapIn",
      // moves flat dirs under epoch=-1 one by one, each its own commit
      "LogStore.scala:rehomeIntoReservedEpoch",
      // publishes one copied file from its hidden temp
      "LogStore.scala:followTick",
      // replaces an alias pointer file, not a store directory
      "LogStore.scala:setAlias")
    MainSources.assertOnly(MainSources.all.filter(s => Set("LogStore.scala", "Ism.scala")(s.file))
      .flatMap(_.hits("""\.rename\(""".r)), allowed, "LogStore.swapIn")
  }
}
