package perfbench

import graft.dialect.HitsFixture

/** The 43 ClickBench statements (cb00-cb42) as a client sends them:
  * the texts of the engine's `queries/ClickBench.scala`, copied so the
  * benchmark drives the wire with plain SQL. Each run of `prepare`
  * checks that every text here gives the same answer as
  * `SparkEntry.queries(name)`, so the two copies cannot drift apart. */
object CbTexts {
  val all: Seq[(String, String)] = Seq[(String, String)](
    "cb00_count" -> "SELECT COUNT(*) AS c FROM hits",
    "cb01_adv_count" -> "SELECT COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0",
    "cb02_sum_count_avg" -> "SELECT SUM(AdvEngineID) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a FROM hits",
    "cb03_avg_userid" -> "SELECT AVG(UserID) AS a FROM hits",
    "cb04_uniq_users" -> "SELECT COUNT(DISTINCT UserID) AS u FROM hits",
    "cb05_uniq_phrases" -> "SELECT COUNT(DISTINCT SearchPhrase) AS p FROM hits",
    "cb06_minmax_date" -> "SELECT MIN(EventDate) AS dmin, MAX(EventDate) AS dmax FROM hits",
    "cb07_adv_group" -> """
      SELECT AdvEngineID, COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0
      GROUP BY AdvEngineID ORDER BY c DESC, AdvEngineID""",
    "cb08_region_uniq" -> """
      SELECT RegionID, COUNT(DISTINCT UserID) AS u FROM hits
      GROUP BY RegionID ORDER BY u DESC, RegionID LIMIT 10""",
    "cb09_region_wide" -> """
      SELECT RegionID, SUM(AdvEngineID) AS s, COUNT(*) AS c,
             AVG(ResolutionWidth) AS a, COUNT(DISTINCT UserID) AS u
      FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10""",
    "cb10_phone_model" -> """
      SELECT MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits
      WHERE MobilePhoneModel <> '' GROUP BY MobilePhoneModel
      ORDER BY u DESC, MobilePhoneModel LIMIT 10""",
    "cb11_phone_pair" -> """
      SELECT MobilePhone, MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits
      WHERE MobilePhoneModel <> '' GROUP BY MobilePhone, MobilePhoneModel
      ORDER BY u DESC, MobilePhone, MobilePhoneModel LIMIT 10""",
    "cb12_top_phrases" -> """
      SELECT SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> ''
      GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""",
    "cb13_phrase_users" -> """
      SELECT SearchPhrase, COUNT(DISTINCT UserID) AS u FROM hits
      WHERE SearchPhrase <> '' GROUP BY SearchPhrase
      ORDER BY u DESC, SearchPhrase LIMIT 10""",
    "cb14_engine_phrase" -> """
      SELECT SearchEngineID, SearchPhrase, COUNT(*) AS c FROM hits
      WHERE SearchPhrase <> '' GROUP BY SearchEngineID, SearchPhrase
      ORDER BY c DESC, SearchEngineID, SearchPhrase LIMIT 10""",
    "cb15_top_users" -> """
      SELECT UserID, COUNT(*) AS c FROM hits GROUP BY UserID
      ORDER BY c DESC, UserID LIMIT 10""",
    "cb16_user_phrase" -> """
      SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
      GROUP BY UserID, SearchPhrase ORDER BY c DESC, UserID, SearchPhrase LIMIT 10""",
    "cb17_user_phrase_any" -> """
      SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
      GROUP BY UserID, SearchPhrase ORDER BY UserID, SearchPhrase LIMIT 10""",
    "cb18_user_minute" -> """
      SELECT UserID, extract(minute FROM EventTime) AS m, SearchPhrase, COUNT(*) AS c
      FROM hits GROUP BY UserID, m, SearchPhrase
      ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10""",
    "cb19_point_user" -> "SELECT UserID FROM hits WHERE UserID = 100123",
    "cb20_url_like" -> "SELECT COUNT(*) AS c FROM hits WHERE URL LIKE '%google%'",
    "cb21_like_phrase" -> """
      SELECT SearchPhrase, MIN(URL) AS u, COUNT(*) AS c FROM hits
      WHERE URL LIKE '%google%' AND SearchPhrase <> ''
      GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""",
    "cb22_title_google" -> """
      SELECT SearchPhrase, MIN(URL) AS u, MIN(Title) AS t, COUNT(*) AS c,
             COUNT(DISTINCT UserID) AS uu
      FROM hits WHERE Title LIKE '%Google%' AND URL NOT LIKE '%.google.%'
        AND SearchPhrase <> ''
      GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""",
    "cb23_star_scan" -> (s"SELECT ${HitsFixture.starProjections._1} FROM hits " +
        "WHERE URL LIKE '%google%' ORDER BY EventTime, WatchID LIMIT 10"),
    "cb24_phrase_by_time" -> """
      SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      ORDER BY EventTime, WatchID LIMIT 10""",
    "cb25_phrase_by_phrase" -> """
      SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      ORDER BY SearchPhrase LIMIT 10""",
    "cb26_phrase_by_both" -> """
      SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      ORDER BY EventTime, SearchPhrase, WatchID LIMIT 10""",
    "cb27_counter_urllen" -> """
      SELECT CounterID, AVG(length(URL)) AS l, COUNT(*) AS c FROM hits
      WHERE URL <> '' GROUP BY CounterID HAVING COUNT(*) > 10000
      ORDER BY l DESC, CounterID LIMIT 25""",
    "cb28_referer_domain" -> """
      SELECT REGEXP_REPLACE(Referer, '^https?://(?:www\\.)?([^/]+)/.*$', '$1') AS k,
             AVG(length(Referer)) AS l, COUNT(*) AS c, MIN(Referer) AS mr
      FROM hits WHERE Referer <> '' GROUP BY k HAVING COUNT(*) > 10000
      ORDER BY l DESC, k LIMIT 25""",
    "cb29_ninety_sums" -> ("SELECT " + (0 to 89).map(i => s"SUM(ResolutionWidth + $i) AS s$i").mkString(", ") +
        " FROM hits"),
    "cb30_engine_ip" -> """
      SELECT SearchEngineID, ClientIP, COUNT(*) AS c, SUM(Refresh) AS sr,
             AVG(ResolutionWidth) AS a
      FROM hits WHERE SearchPhrase <> '' GROUP BY SearchEngineID, ClientIP
      ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10""",
    "cb31_watch_ip" -> """
      SELECT WatchID, ClientIP, COUNT(*) AS c, SUM(Refresh) AS sr,
             AVG(ResolutionWidth) AS a
      FROM hits WHERE SearchPhrase <> '' GROUP BY WatchID, ClientIP
      ORDER BY c DESC, WatchID LIMIT 10""",
    "cb32_watch_ip_all" -> """
      SELECT WatchID, ClientIP, COUNT(*) AS c, SUM(Refresh) AS sr,
             AVG(ResolutionWidth) AS a
      FROM hits GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID LIMIT 10""",
    "cb33_top_urls" -> """
      SELECT URL, COUNT(*) AS c FROM hits GROUP BY URL
      ORDER BY c DESC, URL LIMIT 10""",
    "cb34_one_url" -> """
      SELECT 1 AS one, URL, COUNT(*) AS c FROM hits GROUP BY 1, URL
      ORDER BY c DESC, URL LIMIT 10""",
    "cb35_ip_arith" -> """
      SELECT ClientIP, ClientIP - 1 AS c1, ClientIP - 2 AS c2, ClientIP - 3 AS c3,
             COUNT(*) AS c
      FROM hits GROUP BY ClientIP, c1, c2, c3 ORDER BY c DESC, ClientIP LIMIT 10""",
    "cb36_pageviews_url" -> """
      SELECT URL, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND DontCountHits = 0 AND Refresh = 0 AND URL <> ''
      GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10""",
    "cb37_pageviews_title" -> """
      SELECT Title, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND DontCountHits = 0 AND Refresh = 0 AND Title <> ''
      GROUP BY Title ORDER BY PageViews DESC, Title LIMIT 10""",
    "cb38_links_offset" -> """
      SELECT URL, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND Refresh = 0 AND IsLink <> 0 AND IsDownload = 0
      GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10 OFFSET 100""",
    "cb39_src_dst" -> """
      SELECT TraficSourceID, SearchEngineID, AdvEngineID,
             CASE WHEN (SearchEngineID = 0 AND AdvEngineID = 0) THEN Referer ELSE '' END AS Src,
             URL AS Dst, COUNT(*) AS PageViews
      FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND Refresh = 0
      GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
      ORDER BY PageViews DESC, TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
      LIMIT 10 OFFSET 500""",
    "cb40_urlhash_date" -> """
      SELECT URLHash, EventDate, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND Refresh = 0 AND TraficSourceID IN (-1, 3) AND RefererHash = 1115
      GROUP BY URLHash, EventDate ORDER BY PageViews DESC, URLHash, EventDate
      LIMIT 10 OFFSET 10""",
    "cb41_window_size" -> """
      SELECT WindowClientWidth, WindowClientHeight, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31'
        AND Refresh = 0 AND DontCountHits = 0 AND URLHash = 4437
      GROUP BY WindowClientWidth, WindowClientHeight
      ORDER BY PageViews DESC, WindowClientWidth, WindowClientHeight
      LIMIT 10 OFFSET 5""",
    "cb42_minute_series" -> """
      SELECT DATE_TRUNC('minute', EventTime) AS M, COUNT(*) AS PageViews FROM hits
      WHERE CounterID = 62 AND EventDate >= '2013-07-14' AND EventDate <= '2013-07-15'
        AND Refresh = 0 AND DontCountHits = 0
      GROUP BY DATE_TRUNC('minute', EventTime) ORDER BY M LIMIT 10 OFFSET 5"""
  ).map { case (n, q) => n -> q.trim }
}
