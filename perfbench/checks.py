"""Correctness checks, run with DuckDB after the benchmark JVM has exited
(so outside every timed window). Each check returns a list of
(check name, ok, detail) tuples.
"""
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Inat.licenseCodes: iNat code -> (cc license, version)
LICENSE_CODES = [("CC0", "cc0", "1.0"), ("CC-BY", "by", "4.0"),
                 ("CC-BY-NC", "by-nc", "4.0"), ("CC-BY-ND", "by-nd", "4.0"),
                 ("CC-BY-SA", "by-sa", "4.0"), ("CC-BY-NC-ND", "by-nc-nd", "4.0"),
                 ("CC-BY-NC-SA", "by-nc-sa", "4.0"), ("PD", "pdm", "1.0"),
                 ("GFDL", "gfdl", "1.3")]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(exp, got):
    """The oracle comparison `tools/check.py` makes: sorted column names,
    row count, dtypes, and exact values after sorting rows by every
    column. Returns a problem string, or None when the frames agree."""
    exp, got = _norm(exp), _norm(got)
    if list(exp.columns) != list(got.columns):
        return f"columns: oracle={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows: oracle={len(exp)} got={len(got)}"
    for c in exp.columns:
        if str(exp[c].dtype) != str(got[c].dtype):
            return f"dtype[{c}]: oracle={exp[c].dtype} got={got[c].dtype}"
    neq = (exp != got) & ~(exp.isna() & got.isna())
    if neq.any().any():
        bad = [c for c in exp.columns if neq[c].any()]
        return f"values differ in {bad}"
    return None


def _views(con, table_dir, names):
    for t in names:
        p = f"{table_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def check_oracles(con, table_dir, check_dir, names):
    """Each named output under `check_dir` against its DuckDB oracle SQL."""
    _views(con, table_dir, TABLES)
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    out = []
    for n in names:
        try:
            exp = con.sql(oracle[n]).df()
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{n}/*.parquet')").df()
            problem = compare_frames(exp, got)
        except Exception as e:  # a missing output or a broken oracle fails the query
            problem = f"error: {str(e).splitlines()[0]}"
        out.append((n, problem is None, problem or f"{len(exp)} rows"))
    return out


def expected_live(con, data_dir, days):
    """The live table the load chain must produce, computed independently:
    per day, drop photo ids that repeat within the day (the dupe
    anti-join), join the iNat dimensions, and keep each key's values
    from the last day that carried it."""
    def tsv(path):
        return (f"read_csv('{path}', delim='\t', header=true, quote='', "
                "escape='', all_varchar=true)")
    days_sql = " UNION ALL ".join(
        f"SELECT {d} AS d, * FROM {tsv(f'{data_dir}/day_{d}/photos/part.tsv')}"
        for d in range(days))
    lic = ", ".join(f"('{a}', '{b}', '{c}')" for a, b, c in LICENSE_CODES)
    return f"""
      WITH p AS ({days_sql}),
      dup AS (SELECT d, photo_id FROM p GROUP BY d, photo_id HAVING count(*) > 1),
      ok AS (SELECT p.* FROM p ANTI JOIN dup USING (d, photo_id)),
      obs AS (SELECT * FROM {tsv(f'{data_dir}/observations/part.tsv')}),
      usr AS (SELECT * FROM {tsv(f'{data_dir}/observers/part.tsv')}),
      tx AS (SELECT * FROM {tsv(f'{data_dir}/taxa/part.tsv')}),
      lic(code, cc, ver) AS (VALUES {lic}),
      rec AS (
        SELECT ok.d, 'inaturalist' AS provider,
          CAST(CAST(ok.photo_id AS INTEGER) AS VARCHAR) AS foreign_identifier,
          'https://inaturalist-open-data.s3.amazonaws.com/photos/' ||
            CAST(CAST(ok.photo_id AS INTEGER) AS VARCHAR) || '/original.' ||
            CASE WHEN lower(ok.extension) = 'jpeg' THEN 'jpg'
                 ELSE lower(ok.extension) END AS url,
          lic.cc AS license, lic.ver AS license_version,
          CAST(ok.width AS INTEGER) AS width, CAST(ok.height AS INTEGER) AS height,
          tx.name AS title, coalesce(usr.name, usr.login) AS creator
        FROM ok
        JOIN obs ON obs.observation_uuid = ok.observation_uuid
        JOIN usr ON CAST(usr.observer_id AS INTEGER) = CAST(ok.observer_id AS INTEGER)
        JOIN tx ON CAST(tx.taxon_id AS INTEGER) = CAST(obs.taxon_id AS INTEGER)
        JOIN lic ON lic.code = ok.license)
      SELECT * EXCLUDE (d) FROM rec
      QUALIFY row_number() OVER (PARTITION BY provider, foreign_identifier
                                 ORDER BY d DESC) = 1"""


def check_live(con, data_dir, check_dir, days):
    """The final live-table snapshot of a catalog_load round."""
    got = f"read_parquet('{check_dir}/live/*.parquet')"
    n, keys = con.execute(
        f"SELECT count(*), count(DISTINCT (provider, foreign_identifier)) FROM {got}").fetchone()
    shared = con.execute(
        f"SELECT count(*) FROM (SELECT url FROM {got} GROUP BY url "
        "HAVING count(DISTINCT (provider, foreign_identifier)) > 1)").fetchone()[0]
    exp = expected_live(con, data_dir, days)
    want = con.execute(f"SELECT count(DISTINCT (provider, foreign_identifier)) FROM ({exp})").fetchone()[0]
    cols = "provider, foreign_identifier, url, license, license_version, width, height, title, creator"
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM ({exp}))) + "
        f"(SELECT count(*) FROM (SELECT {cols} FROM ({exp}) EXCEPT ALL SELECT {cols} FROM {got}))").fetchone()[0]
    return [("live.key_unique", n == keys, f"{n} rows, {keys} keys"),
            ("live.url_single_key", shared == 0, f"{shared} urls on several keys"),
            ("live.row_count", n == want, f"{n} rows, {want} expected"),
            ("live.content", diff == 0, f"{diff} rows differ from the expected snapshot")]
