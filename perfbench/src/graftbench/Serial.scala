package graftbench

import scala.collection.mutable

/**
 * The reference semantics of change apply, one event at a time in id
 * order: INSERT skips a live key, UPDATE upserts, DELETE removes. The
 * streamed state must agree with it on every key it tracks.
 */
final class SerialModel(tracked: String => Boolean) {
  val state = mutable.HashMap.empty[String, Array[String]]

  def apply(e: Ev): Unit = if (tracked(e.pk)) e.action match {
    case "INSERT" => if (!state.contains(e.pk)) state(e.pk) = e.row
    case "UPDATE" => state(e.pk) = e.row
    case "DELETE" => state.remove(e.pk)
    case _ => ()
  }
}

/**
 * What `cdc_hot`'s filters and payload stages do to one event, stated
 * independently of the Spark code: keep `public.accounts` only (whitelist
 * `public.*`, ignore `public.audit` and `sessions`), drop INSERT/UPDATE
 * events whose `is_test` is true, remove `email`, upper-case `status`.
 * Returns the event with its row in the state's column order
 * (pk, name, status, balance, is_test), or None when it is dropped.
 */
object HotStages {
  val StateColumns = Seq("pk", "name", "status", "balance", "is_test")

  def apply(e: Ev): Option[Ev] =
    if (e.schema != "public" || e.table != "accounts") None
    else if (e.row == null) Some(e)
    else if (e.row(5) == "true") None
    else Some(e.copy(row = Array(e.row(0), e.row(1), e.row(3).toUpperCase,
      e.row(4), e.row(5))))
}
