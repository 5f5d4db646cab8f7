"""Output checks for one benchmark run, made after the JVM has exited
(outside the timed region). Each returns a list of failure strings; an
empty list means every checked output is correct.

- ingest: every game appears exactly twice (one row per role) with the
  Result reversed on the Black row, and each player's final
  Player_cum_games_total equals the generator's own seat tally.
  In traced runs, each eda.ipynb query's result over the sink equals
  DuckDB running the registered oracle SQL over the same sink; the HLL
  query is within HLL error of the exact distinct count.
- curate: counts and the written corpus agree with DuckDB running the
  curation_gate and sample_split_grouped oracles.
- dedup_graph: the clusters equal the dedup_clusters oracle, and the
  graph-audit counts equal the counts of the kNN-family oracles.
"""
import math
import re

import duckdb

# Spark's approx_count_distinct default relative standard deviation.
HLL_RSD = 0.05


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(canon(r[i]) for i in order) for r in rows))


def duck_table(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return table(cols, cur.fetchall())


def pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def check_ingest(con, c):
    fails = []
    tally = (f"read_csv('{c['tally']}', header=true, "
             "columns={'name': 'VARCHAR', 'n': 'BIGINT'})")
    for sink in c["sinks"]:
        t = pq(sink)
        games, bad_pairs = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE c <> 2 OR r <> 2) FROM "
            f"(SELECT ID, count(*) AS c, count(DISTINCT Role_player) AS r FROM {t} GROUP BY ID)"
        ).fetchone()
        if games != c["games"] or bad_pairs:
            fails.append(f"ingest {sink}: {games} games (want {c['games']}), "
                         f"{bad_pairs} without exactly one row per role")
        bad_rev = con.execute(
            f"SELECT count(*) FROM {t} w JOIN {t} b ON w.ID = b.ID "
            "AND w.Role_player = 'White' AND b.Role_player = 'Black' "
            "WHERE b.Result IS DISTINCT FROM (CASE w.Result WHEN '1-0' THEN '0-1' "
            "WHEN '0-1' THEN '1-0' ELSE w.Result END) "
            "OR w.Player <> b.Opponent OR w.Opponent <> b.Player").fetchone()[0]
        if bad_rev:
            fails.append(f"ingest {sink}: {bad_rev} games whose Black row does not mirror White")
        bad_tally = con.execute(
            f"SELECT count(*) FROM (SELECT Player, max(Player_cum_games_total) AS n "
            f"FROM {t} GROUP BY Player) s FULL OUTER JOIN {tally} g ON s.Player = g.name "
            "WHERE s.n IS DISTINCT FROM g.n").fetchone()[0]
        if bad_tally:
            fails.append(f"ingest {sink}: {bad_tally} players whose final "
                         "Player_cum_games_total differs from the generator's tally")
    if c.get("eda"):
        fails += check_eda(con, c["eda"])
    return fails


def check_eda(con, c):
    fails = []
    games = (f"SELECT ID, DateTime, Opening, Termination, Result, Player AS White, "
             f"Opponent AS Black, PlayerElo AS WhiteElo, OpponentElo AS BlackElo "
             f"FROM {pq(c['sink'])} WHERE Role_player = 'White'")
    for key, res in c["results"].items():
        got = table(res["cols"], res["rows"])
        if key == "chess_approx_players":
            exact = con.execute(
                f"SELECT count(DISTINCT White), count(DISTINCT Black) FROM ({games})").fetchone()
            approx = dict(zip(res["cols"], res["rows"][0]))
            for col, want in zip(("n_white", "n_black"), exact):
                if abs(approx[col] - want) > 3 * HLL_RSD * want:
                    fails.append(f"eda {key}: {col} {approx[col]} vs exact {want}")
            continue
        sql = c["oracle_sql"].get(key)
        if sql is None:
            fails.append(f"eda {key}: no oracle SQL registered")
            continue
        sql = re.sub(r"read_parquet\('[^']*'\)", lambda _: f"({games})", sql)
        want = duck_table(con, sql)
        if got != want:
            fails.append(f"eda {key}: {len(got[1])} rows {got[0]} differ from DuckDB's "
                         f"{len(want[1])} rows {want[0]}")
    return fails


def sf_views(con, sf):
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet/*.parquet')")


def check_curate(con, c):
    fails = []
    sf_views(con, c["sf"])
    counts = c["counts"]
    n_input = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    con.execute(f"CREATE TABLE gate AS {c['oracle_sql']['curation_gate']}")
    con.execute(f"CREATE TABLE split AS {c['oracle_sql']['sample_split_grouped']}")
    n_kept = con.execute("SELECT count(*) FROM gate WHERE keep").fetchone()[0]
    if counts.get("n_input") != n_input or counts.get("n_kept") != n_kept:
        fails.append(f"curate: n_input/n_kept {counts.get('n_input')}/{counts.get('n_kept')} "
                     f"vs oracle {n_input}/{n_kept}")
    if not counts.get("n_kept", 0) >= counts.get("n_ppl_kept", -1) >= counts.get("n_mixture", -1) > 0:
        fails.append(f"curate: stage counts not narrowing: {counts}")
    for corpus in c["corpora"]:
        t = pq(corpus)
        n, not_kept, wrong_split = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE g.doc_id IS NULL), "
            f"count(*) FILTER (WHERE s.split IS DISTINCT FROM o.split) FROM {t} o "
            "LEFT JOIN (SELECT doc_id FROM gate WHERE keep) g ON g.doc_id = o.doc_id "
            "LEFT JOIN split s ON s.doc_id = o.doc_id").fetchone()
        by_split = dict(con.execute(f"SELECT split, count(*) FROM {t} GROUP BY split").fetchall())
        want_split = {k[2:]: v for k, v in counts.items()
                      if k.startswith("n_") and k[2:] in ("train", "val", "test")}
        if n != counts.get("n_mixture") or not_kept or wrong_split or by_split != want_split:
            fails.append(f"curate {corpus}: {n} rows (want {counts.get('n_mixture')}), "
                         f"{not_kept} not kept by the gate, {wrong_split} in the wrong split, "
                         f"splits {by_split} vs {want_split}")
    return fails


def check_dedup_graph(con, c):
    fails = []
    sf_views(con, c["sf"])
    sql = c["oracle_sql"]
    want = duck_table(con, sql["dedup_clusters"])
    for path in c["clusters"]:
        got = duck_table(con, f"SELECT * FROM {pq(path)}")
        if got != want:
            fails.append(f"dedup_clusters {path}: {len(got[1])} rows differ from the oracle's "
                         f"{len(want[1])}")
    oracle_counts = {
        "n_edges": f"SELECT count(*) FROM ({sql['knn_graph']})",
        "n_outliers": f"SELECT count(*) FROM ({sql['knn_density']}) WHERE outlier",
        "n_misclassified": f"SELECT count(*) FROM ({sql['knn_classify']}) WHERE NOT correct",
        "n_clusters": f"SELECT count(DISTINCT cluster) FROM ({sql['semantic_clusters']})",
        "n_hubs": f"SELECT count(*) FROM ({sql['knn_hubness']}) WHERE hub",
        "n_ranked": f"SELECT count(*) FROM ({sql['pagerank']})",
    }
    for key, q in oracle_counts.items():
        want_n = con.execute(q).fetchone()[0]
        if c["counts"].get(key) != want_n:
            fails.append(f"graph_audit {key}: {c['counts'].get(key)} vs oracle {want_n}")
    return fails


CHECKS = {"ingest": check_ingest, "curate": check_curate,
          "dedup_graph": check_dedup_graph}


def check(rec):
    c = rec["check"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        return CHECKS[c["kind"]](con, c)
    except duckdb.Error as e:
        return [f"{c['kind']}: check could not run: {e}"]
    finally:
        con.close()
