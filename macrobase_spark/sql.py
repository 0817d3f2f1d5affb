"""MacroBase SQL dialect: IMPORT, SELECT (+ percentile/normalize UDFs), and
the DIFF / SPLIT query forms — executed as Spark plans.

Reference surface (what this implements):
- grammar        reference sql/src/main/antlr4/.../SqlBase.g4:31-35,118-169
- interpreter    reference sql/.../QueryEngine.java:98-200,283-306 (clause
  order UDFs → WHERE → SELECT → ORDER BY → LIMIT; single-column ORDER BY)
- DIFF pipeline  reference QueryEngine.executeDiffQuerySpec:121-200
  (defaults: MAX COMBO 3, MIN RATIO 1.5, MIN SUPPORT 0.2, global_ratio —
  tree/DiffQuerySpecification.java:31-37)
- ON * column selection: string columns whose distinct count over (up to)
  1000 sampled rows is < sample/4 (QueryEngine.findExplanationColumns:207-230;
  we use the exact distinct count — deterministic, same outcome for any
  column that is clearly categorical or clearly not)
- UDFs: percentile = min-rank(v)/n (lib/.../analysis/MBFunction.java
  PercentileFucntion), normalize = (x+off)/(max+off), off = -min when
  min <= 0 (NormalizeFunction) — both rendered as window/broadcast column
  expressions, matching tie semantics exactly (F.rank == min position + 1)
- IMPORT CSV conventions: declared columns only; string nulls become the
  literal "NULL", unparseable doubles become NaN
  (lib/.../ingest/CSVDataFrameParser.java:124-136)

The parser is a small regex/recursive-descent for exactly this dialect; any
other SQL should go straight to spark.sql.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from macrobase_spark.operators.explain import ExplainParams, explain
from macrobase_spark.operators.classify import OUTLIER_COL

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


class MacroBaseSQL:
    """Tiny MacroBase-SQL engine over Spark DataFrames (one per session)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}

    # ------------------------------------------------------------------ API

    def execute(self, sql: str) -> DataFrame | None:
        sql = sql.strip().rstrip(";").strip()
        if re.match(r"(?is)^IMPORT\s", sql):
            return self._import(sql)
        sql, outfile = self._strip_outfile(sql)
        df = self._select(sql)
        if outfile:
            self.write_csv(df, outfile)
        return df

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name.lower()] = df

    # INTO OUTFILE collects to the driver (the reference writes one local
    # CSV stream); above this many rows, spill distributed instead of
    # OOM-ing the driver
    MAX_COLLECT_ROWS = 5_000_000

    def write_csv(self, df: DataFrame, path: str) -> None:
        """Reference CSV export: header, nulls as empty fields, Infinity
        spelled out (CSVDataFrameWriter.writeToStream). Edge-collect is
        sanctioned for the reference's export semantics (SURVEY §1.6), but a
        big relation falls back to a distributed write (a DIRECTORY of part
        CSVs at `path`) rather than driver-collecting it."""
        n = df.limit(self.MAX_COLLECT_ROWS + 1).count()
        if n > self.MAX_COLLECT_ROWS:
            # distributed spill, SAME output contract as the pandas path:
            # one file at `path`, byte-identical spellings. Rather than
            # re-implementing pandas' per-type CSV formatting with Spark
            # expressions (float repr vs Java toString sci-notation
            # thresholds, True/False vs true/false, timestamp layouts —
            # each a divergence), every executor formats its Arrow batches
            # WITH pandas.to_csv — the same formatter the small path uses —
            # and ships one pre-rendered text blob per batch (embedded
            # quoted newlines stay inside the blob, so the text writer's
            # record framing is safe). The driver then does a cheap
            # sequential file-level concat (no row ever materializes in
            # driver memory).
            import glob
            import shutil

            tmp = path + ".__parts__"

            def _fmt(batches):
                import pyarrow as pa

                for b in batches:
                    txt = b.to_pandas().to_csv(index=False, header=False)
                    if txt:
                        yield pa.RecordBatch.from_pydict(
                            {"csv": [txt.removesuffix("\n")]}
                        )

            df.mapInArrow(_fmt, "csv string").write.mode("overwrite").text(tmp)
            with open(path, "w", encoding="utf-8") as out:
                out.write(",".join(df.columns) + "\n")
                for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
                    with open(part, encoding="utf-8") as f:
                        shutil.copyfileobj(f, out)
            shutil.rmtree(tmp, ignore_errors=True)
            return
        pdf = df.toPandas()
        pdf.to_csv(path, index=False)

    # -------------------------------------------------------------- IMPORT

    def _import(self, sql: str) -> DataFrame:
        m = re.match(
            r"(?is)^IMPORT\s+FROM\s+CSV\s+FILE\s+'([^']+)'\s+INTO\s+(\w+)\s*\(([^)]*)\)$",
            sql,
        )
        if not m:
            raise ValueError(f"bad IMPORT statement: {sql!r}")
        path, name, cols = m.groups()
        decls = []
        for part in cols.split(","):
            cn, ct = part.split()
            decls.append((cn.strip(), ct.strip().lower()))
        raw = self.spark.read.option("header", True).csv(path)
        out_cols = []
        for cn, ct in decls:
            c = F.col(cn)
            if ct == "double":
                # unparseable / missing doubles -> NaN (reference behavior)
                out_cols.append(
                    F.coalesce(c.cast("double"), F.lit(float("nan"))).alias(cn)
                )
            else:
                # missing strings -> the literal "NULL"
                out_cols.append(F.coalesce(c.cast("string"), F.lit("NULL")).alias(cn))
        df = raw.select(*out_cols)
        self.register(name, df)
        return df

    # -------------------------------------------------------------- SELECT

    def _strip_outfile(self, sql: str) -> tuple[str, str | None]:
        m = re.search(r"(?is)\s+INTO\s+OUTFILE\s+'([^']+)'\s*$", sql)
        if m:
            return sql[: m.start()], m.group(1)
        return sql, None

    def _select(self, sql: str) -> DataFrame:
        m = re.match(r"(?is)^SELECT\s+(.*?)\s+FROM\s+(.*)$", sql)
        if not m:
            raise ValueError(f"bad SELECT statement: {sql!r}")
        select_list, rest = m.groups()
        if re.match(r"(?is)^DIFF\b", rest.strip()):
            return self._diff(select_list, rest.strip())
        return self._plain_select(select_list, rest.strip())

    # ---- plain SELECT with UDFs (clause order: UDF -> WHERE -> SELECT ->
    # ORDER BY -> LIMIT, reference QueryEngine.java:283-291)

    def _plain_select(self, select_list: str, rest: str) -> DataFrame:
        order_by, limit, rest = self._pop_order_limit(rest)
        mw = re.match(r"(?is)^(\w+)(?:\s+WHERE\s+(.*))?$", rest)
        if not mw:
            raise ValueError(f"unsupported FROM clause: {rest!r}")
        tname, where = mw.groups()
        df = self._table(tname)

        items = self._split_top(select_list)
        udf_cols: dict[str, F.Column] = {}
        out_names: list[str] = []
        star = False
        for it in items:
            it = it.strip()
            if it == "*":
                star = True
                continue
            mu = re.match(r"(?is)^(percentile|normalize)\s*\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?$", it)
            if mu:
                fn, col, alias = mu.groups()
                name = alias or f"{fn.lower()}({col})"
                udf_cols[name] = self._udf(df, fn.lower(), col)
                out_names.append(name)
            else:
                ma = re.match(r"(?is)^(\w+)(?:\s+AS\s+(\w+))?$", it)
                if not ma:
                    raise ValueError(f"unsupported select item: {it!r}")
                col, alias = ma.groups()
                out_names.append(alias or col)
                if alias:
                    udf_cols[alias] = F.col(col)

        # UDFs in WHERE (reference QueryEngine.java:472-497): compute first
        if where:
            for mu in re.finditer(r"(?is)(percentile|normalize)\s*\(\s*(\w+)\s*\)", where):
                fn, col = mu.groups()
                name = f"{fn.lower()}({col})"
                if name not in udf_cols:
                    udf_cols[name] = self._udf(df, fn.lower(), col)
                where = where.replace(mu.group(0), f"`{name}`")

        work = df
        for name, c in udf_cols.items():
            work = work.withColumn(name, c)
        if where:
            work = work.filter(self._predicate(where))
        if star:
            proj = [*df.columns, *[n for n in out_names if n not in df.columns]]
        else:
            proj = out_names
        work = work.select(*proj)
        return self._order_limit(work, order_by, limit)

    def _udf(self, df: DataFrame, fn: str, col: str) -> F.Column:
        if fn == "percentile":
            n = df.count()
            return F.rank().over(Window.orderBy(col)).cast("double") / F.lit(float(n))
        if fn == "normalize":
            row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
            lo, hi = float(row["lo"]), float(row["hi"])
            off = 0.0 if lo > 0 else -lo
            return (F.col(col) + F.lit(off)) / F.lit(hi + off)
        raise ValueError(f"unknown UDF {fn!r}")

    # ---- DIFF -----------------------------------------------------------

    def _diff(self, select_list: str, rest: str) -> DataFrame:
        if select_list.strip() != "*":
            raise ValueError("DIFF queries support SELECT * only (as the reference tests)")
        body = rest[4:].strip()  # drop DIFF

        order_by, limit, body = self._pop_order_limit(body)

        max_combo = 3
        mm = re.search(r"(?is)\s+MAX\s+COMBO\s+(\d+)\s*$", body)
        if mm:
            max_combo = int(mm.group(1))
            body = body[: mm.start()]

        metric = "global_ratio"
        mc = re.search(r"(?is)\s+COMPARE\s+BY\s+(\w+)\s*\(\s*COUNT\s*\(\s*\*\s*\)\s*\)\s*$", body)
        if mc:
            metric = mc.group(1).lower()
            body = body[: mc.start()]

        min_ratio, min_support = 1.5, 0.2
        mr = re.search(
            rf"(?is)\s+WITH\s+MIN\s+RATIO\s+({_NUM})\s+MIN\s+SUPPORT\s+({_NUM})\s*$", body
        )
        if mr:
            min_ratio, min_support = float(mr.group(1)), float(mr.group(2))
            body = body[: mr.start()]
        else:
            ms = re.search(
                rf"(?is)\s+WITH\s+MIN\s+SUPPORT\s+({_NUM})\s+MIN\s+RATIO\s+({_NUM})\s*$", body
            )
            if ms:
                min_support, min_ratio = float(ms.group(1)), float(ms.group(2))
                body = body[: ms.start()]

        mo = re.search(r"(?is)\s+ON\s+(.+)$", body)
        if not mo:
            raise ValueError("DIFF requires an ON clause")
        on_clause = mo.group(1).strip()
        body = body[: mo.start()].strip()

        # relation args: (SPLIT t WHERE cond) | (subq) [alias], (subq) [alias]
        split = re.match(r"(?is)^\(\s*SPLIT\s+(\w+)\s+WHERE\s+(.*)\)$", body)
        if split:
            tname, cond = split.groups()
            t = self._table(tname)
            pred = self._predicate(cond.strip())
            tagged = t.withColumn(OUTLIER_COL, F.when(pred, 1.0).otherwise(0.0))
        else:
            subqs = self._split_top(body)
            if len(subqs) != 2:
                raise ValueError(f"DIFF expects two relations, got {len(subqs)}: {body!r}")
            outliers = self._subquery(subqs[0])
            inliers = self._subquery(subqs[1])
            tagged = outliers.withColumn(OUTLIER_COL, F.lit(1.0)).unionByName(
                inliers.withColumn(OUTLIER_COL, F.lit(0.0))
            )

        if on_clause == "*":
            attrs = self._find_explanation_columns(tagged.drop(OUTLIER_COL))
        else:
            attrs = [a.strip() for a in on_clause.split(",")]

        res = explain(
            tagged,
            ExplainParams(
                attributes=attrs,
                min_support=min_support,
                min_ratio_metric=min_ratio,
                ratio_metric=metric,
                max_order=max_combo,
            ),
        )
        return self._order_limit(res, order_by, limit)

    def _subquery(self, text: str) -> DataFrame:
        text = text.strip()
        m = re.match(r"(?is)^\((.*)\)\s*(\w+)?$", text)
        if not m:
            raise ValueError(f"bad DIFF relation: {text!r}")
        return self._select(m.group(1).strip())

    def _find_explanation_columns(self, df: DataFrame) -> list[str]:
        n = df.count()
        sample = min(n, 1000)
        out = []
        for field in df.schema.fields:
            if field.dataType.simpleString() != "string":
                continue
            distinct = df.select(field.name).distinct().count()
            if distinct < sample / 4:
                out.append(field.name)
        return out

    # ---- shared helpers -------------------------------------------------

    def _table(self, name: str) -> DataFrame:
        key = name.lower()
        if key not in self.tables:
            raise ValueError(f"unknown table {name!r}; IMPORT or register() it first")
        return self.tables[key]

    def _pop_order_limit(self, text: str) -> tuple[tuple[str, bool] | None, int | None, str]:
        limit = None
        ml = re.search(r"(?is)\s+LIMIT\s+(\d+)\s*$", text)
        if ml:
            limit = int(ml.group(1))
            text = text[: ml.start()]
        order = None
        mo = re.search(r"(?is)\s+ORDER\s+BY\s+(\w+)(?:\s+(ASC|DESC))?\s*$", text)
        if mo:
            order = (mo.group(1), (mo.group(2) or "ASC").upper() == "ASC")
            text = text[: mo.start()]
        return order, limit, text

    def _order_limit(self, df: DataFrame, order, limit) -> DataFrame:
        if order:
            col, asc = order
            df = df.orderBy(F.col(col).asc_nulls_last() if asc else F.col(col).desc_nulls_last())
        if limit is not None:
            df = df.limit(limit)
        return df

    def _split_top(self, text: str) -> list[str]:
        """Split on top-level commas (not inside parens/quotes)."""
        parts, depth, cur, q = [], 0, [], False
        for ch in text:
            if ch == "'" :
                q = not q
            elif not q and ch == "(":
                depth += 1
            elif not q and ch == ")":
                depth -= 1
            if ch == "," and depth == 0 and not q:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        return [p for p in parts if p.strip()]

    # minimal predicate grammar: comparisons, AND/OR/NOT, parens, literals
    def _predicate(self, text: str):
        """WHERE-clause predicates. Beyond comparisons/AND/OR/NOT, the
        reference's grammar also admits `NOT? BETWEEN lo AND hi`,
        `NOT? IN (expr, ...)`, `NOT? LIKE pattern` and `IS NOT? NULL`
        (SqlBase.g4:231-238) — lexed there but never executed by
        QueryEngine.getMask (QueryEngine.java:436+); here they lower to
        the native Column operations Catalyst already optimizes."""
        tokens = re.findall(
            rf"(?is)`[^`]+`|{_NUM}|'[^']*'|\(|\)|,|<>|!=|<=|>=|=|<|>|\bAND\b|\bOR\b|\bNOT\b|\w+",
            text,
        )
        pos = 0

        def bad(what: str) -> ValueError:
            return ValueError(f"malformed predicate {text!r}: {what}")

        def peek():
            return tokens[pos] if pos < len(tokens) else None

        def take():
            nonlocal pos
            if pos >= len(tokens):
                raise bad("unexpected end")
            t = tokens[pos]
            pos += 1
            return t

        def expect(want: str, what: str) -> None:
            if take().upper() != want:
                raise bad(what)

        def atom():
            nonlocal pos
            t = peek()
            if t == "(":
                take()
                e = expr()
                expect(")", "missing ')'")
                return e
            if t is not None and t.upper() == "NOT":
                take()
                return ~atom()
            left = operand(take())
            op = take()
            negate = False
            if op.upper() == "NOT":
                negate = True
                op = take()
            opu = op.upper()
            if opu == "BETWEEN":
                lo = operand(take())
                expect("AND", "BETWEEN needs 'AND'")
                hi = operand(take())
                cond = (left >= lo) & (left <= hi)
            elif opu == "IN":
                expect("(", "IN needs '('")
                items = [operand(take())]
                while peek() == ",":
                    take()
                    items.append(operand(take()))
                expect(")", "IN list needs ')'")
                cond = left == items[0]
                for it in items[1:]:  # OR of equalities: works for lit AND col members
                    cond = cond | (left == it)
            elif opu == "LIKE":
                pat = take()
                if not pat.startswith("'"):
                    raise bad("LIKE pattern must be a string literal")
                cond = left.like(pat[1:-1])
            elif opu == "IS":
                nxt = take()
                if nxt.upper() == "NOT":
                    negate = not negate
                    nxt = take()
                if nxt.upper() != "NULL":
                    raise bad("IS needs NULL or NOT NULL")
                cond = left.isNull()
            else:
                ops = {
                    "=": lambda a, b: a == b,
                    "==": lambda a, b: a == b,
                    "!=": lambda a, b: a != b,
                    "<>": lambda a, b: a != b,
                    "<": lambda a, b: a < b,
                    ">": lambda a, b: a > b,
                    "<=": lambda a, b: a <= b,
                    ">=": lambda a, b: a >= b,
                }
                if op not in ops:
                    raise bad(f"unknown operator {op!r}")
                cond = ops[op](left, operand(take()))
            return ~cond if negate else cond

        def operand(t: str):
            if re.fullmatch(_NUM, t):
                return F.lit(float(t))
            if t.startswith("'"):
                return F.lit(t[1:-1])
            if t.startswith("`"):
                return F.col(t[1:-1])
            return F.col(t)

        def expr():
            left = atom()
            while peek() is not None and peek().upper() in ("AND", "OR"):
                op = take().upper()
                right = atom()
                left = (left & right) if op == "AND" else (left | right)
            return left

        return expr()
