package graft.streaming

/** Typed event model for the streaming operators — the subset of the
  * reference's app-log JSON (FIXTURES.md §1, documented at
  * app/dwd/BaseLogApp.java:32-110) that the stateful operators key on.
  * `ts` is epoch millis, as in the reference.
  */
case class LogEvent(
    mid: String,
    uid: String,
    ar: String,
    ch: String,
    vc: String,
    is_new: String,
    page_id: Option[String],
    last_page_id: Option[String],
    during_time: Option[Long],
    ts: Long,
    item: Option[String] = None)

/** Typed twin of Pipelines.rawLogSchema — the FULL parsed log row (common +
  * page + start + displays), so the is_new repair can run BEFORE the 3-way
  * split exactly as the reference does (BaseLogApp.java:156-204 repairs the
  * whole stream; the split at :213-257 then sees repaired flags everywhere).
  * `common` and `ts` are optional so an unparseable line travels the same
  * typed pass as a [[RawLog.dirty]] row instead of needing a second scan.
  */
case class RawCommon(
    ar: String, uid: String, os: String, ch: String, is_new: String,
    md: String, mid: String, vc: String, ba: String)

case class RawPage(
    page_id: String, last_page_id: String, during_time: Option[Long],
    item: String, item_type: String, source_type: String)

case class RawStart(
    entry: String, open_ad_skip_ms: Option[Long], open_ad_ms: Option[Long],
    loading_time: Option[Long], open_ad_id: Option[Long])

case class RawDisplay(
    display_type: String, item: String, item_type: String,
    pos_id: Option[Long], order: Option[Long], page_id: String)

case class RawLog(
    common: Option[RawCommon],
    page: Option[RawPage],
    start: Option[RawStart],
    displays: Option[Seq[RawDisplay]],
    ts: Option[Long]) {

  /** No `common` or no `ts` after permissive parsing: the reference's dirty
    * side output. Dirty rows never read or write keyed state. */
  def dirty: Boolean = common.isEmpty || ts.isEmpty
}

/** Order fact (reference bean/OrderInfo.java, trimmed): `create_ts` millis. */
case class OrderInfo(
    id: Long,
    user_id: Long,
    province_id: Long,
    total_amount: BigDecimal,
    create_ts: Long)

/** Order line fact (reference bean/OrderDetail.java, trimmed). */
case class OrderDetail(
    id: Long,
    order_id: Long,
    sku_id: Long,
    order_price: BigDecimal,
    sku_num: Long,
    split_total_amount: BigDecimal,
    create_ts: Long)

/** Payment fact (reference bean/PaymentInfo.java, trimmed): event time is the
  * callback time, as in app/dwm/PaymentWideApp.java:48-54. */
case class PaymentInfo(
    id: Long,
    order_id: Long,
    payment_type: String,
    total_amount: BigDecimal,
    callback_ts: Long)
