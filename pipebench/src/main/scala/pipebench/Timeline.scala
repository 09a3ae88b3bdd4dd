package pipebench

/** The replay clock. Event time runs [[Playback]] times faster than wall
  * time (the reference's playback speed), so a reading whose event time is
  * `e` is due on the wire `(e - eventBaseMs) / Playback` wall milliseconds
  * after the release starts, and a file of readings is released when its
  * last reading falls due.
  */
object Timeline {
  val Playback = 24

  /** Event-time epoch of the stream's first reading: 2024-01-29T23:00:00Z,
    * the last hour before `Grid.NowEpoch`, so the streamed hour is the one
    * `GraftSession.maintain` refreshes and the dashboard's trailing-day tile
    * shows.
    */
  val EventBaseMs: Long = 1706569200000L

  /** Wall offset (ms after release start) at which event time `eventMs` is due. */
  def dueOffsetMs(eventMs: Long): Double = (eventMs - EventBaseMs).toDouble / Playback

  /** Event time (ms) that falls due `dueOffsetMs` wall ms after release start. */
  def eventMs(dueOffsetMs: Double): Long = EventBaseMs + math.round(dueOffsetMs * Playback)
}
