package graft.connect

/** S1 — the paginated REST metadata scan (drm.py:20-46): GET with a `limit`
  * page size, follow the `next` cursor until null, yield flat records.
  *
  * This driver-side fetch matches the reference's behavior exactly (it also
  * materializes every page before processing, dags/dreem.py:46). The scale
  * path, documented in SURVEY.md S1, is a DataSource V2 Batch with one
  * InputPartition per page cursor once the API exposes page addressing; for
  * a cursor-chained API the fetch is inherently sequential, so driver-side +
  * immediate `createDataFrame` is the honest implementation.
  */
final class PaginatedRestSource(
    transport: Transport,
    auth: TokenProvider,
    baseUrl: String,
    pageSize: Int = 30) {

  /** Iterate all result objects across pages. `next` in each page envelope
    * points to the following page (absolute URL) or null.
    */
  def fetchAll(path: String): Iterator[MiniJson.JObj] = {
    var url: Option[String] = Some(s"$baseUrl$path?limit=$pageSize")
    Iterator.continually {
      url match {
        case None => None
        case Some(u) =>
          val resp = transport.send(HttpRequest("GET", u, auth.authHeader()))
          require(resp.isSuccess, s"page fetch failed: HTTP ${resp.status} for $u")
          val page = MiniJson.parse(resp.bodyString).asInstanceOf[MiniJson.JObj]
          url = page.fields.get("next") match {
            case Some(MiniJson.JStr(n)) => Some(n)
            case _ => None
          }
          val results = page.fields.get("results") match {
            case Some(MiniJson.JArr(items)) => items.collect { case o: MiniJson.JObj => o }
            case _ => Vector.empty
          }
          Some(results)
      }
    }.takeWhile(_.isDefined).flatMap(_.get)
  }
}
