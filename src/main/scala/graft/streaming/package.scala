package graft

package object streaming {

  /** A [[KeyedOp]] over events keyed by user_id: the shape
    * [[StatefulOps.sortedThen]] runs inside the watermark sorter's own
    * operator. */
  type KeyedStep[S, O] = KeyedOp[Long, StreamSource.Event, S, O]
}
