"""Text2SQL retrieval — the Spark-native analog of Text2CypherRetriever.

Reference: retrievers/text2cypher.py:93-231 — NL question + graph schema
→ LLM-generated query → execute → records, with the generated query
returned in metadata and syntax errors surfaced as a retrieval error; and
extract_cypher (:48-91, P10) stripping code fences from model output.

Spark-first mapping: the "database" is the pair of node/edge DataFrames
registered as temp views; the query language is Spark SQL (executed by
``spark.sql`` → Catalyst, so the generated query gets the same pushdown /
join planning as hand-written pipelines); ``CypherSyntaxError`` becomes
``pyspark.errors.ParseException``.  The LLM is a pluggable
``Callable[[str], str]`` slot like every other model seam in this repo —
tests use a deterministic template model.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from neo4j_graphrag_python_spark.functions.prompts import PromptTemplate

LlmFn = Callable[[str], str]

NODES_VIEW = "graph_nodes"
EDGES_VIEW = "graph_edges"


class SchemaFetchError(RuntimeError):
    """Analog of the reference SchemaFetchError (text2cypher.py:161-165):
    raised when no schema text was supplied and introspection fails."""


class Text2SqlRetrievalError(RuntimeError):
    """Analog of Text2CypherRetrievalError (text2cypher.py:222-225):
    the LLM produced a query Spark cannot parse."""


# ---------------------------------------------------------------------------
# P10 — extract_sql (reference extract_cypher, text2cypher.py:48-91)
# ---------------------------------------------------------------------------

_FENCE = re.compile(r"```(.*?)```", re.DOTALL)
_LANG_TAG = re.compile(r"^\s*(sql|spark\s*sql|cypher)\b[ \t]*\n", re.IGNORECASE)

# ---------------------------------------------------------------------------
# read-only guard — unlike the reference's text2cypher, where Neo4j can
# enforce read-only routing server-side, spark.sql() runs DDL/DML with full
# session privileges, so the guard must live in code
# ---------------------------------------------------------------------------

_READONLY_FIRST = re.compile(r"^\s*(?:select|with)\b", re.IGNORECASE)
# Write verbs that must not appear anywhere: Spark's grammar admits
# `WITH cte AS (...) INSERT INTO ...` (ctes before dmlStatementNoWith), so
# a first-token whitelist alone is not sufficient.  Conservative by design:
# a column literally named `insert` would false-positive — renaming it is
# cheaper than an INSERT OVERWRITE running with session privileges.
_WRITE_VERB = re.compile(
    r"\b(?:insert|update|delete|merge|drop|create|alter|truncate|overwrite"
    r"|load|grant|revoke|vacuum|optimize|msck|refresh|uncache|cache|call)\b",
    re.IGNORECASE,
)
_SQL_COMMENT = re.compile(r"--[^\n]*|/\*.*?\*/", re.DOTALL)
# Script transformation (`SELECT TRANSFORM(x) USING 'cmd' FROM t`) starts
# with SELECT and contains no write verb, yet executes an arbitrary shell
# command — on PySpark 4.x no Hive serde is even needed.  Its unambiguous
# lexical marker is USING followed by a string literal (join-USING is
# followed by `(`, CREATE ... USING by a bare format identifier and CREATE
# is blocked anyway).  `r'...'` covers Spark's raw-string literals.
_SCRIPT_USING = re.compile(r"\busing\s+r?['\"]", re.IGNORECASE)
# reflect()/java_method() invoke arbitrary static Java methods with session
# privileges — same injection class, no legitimate text2sql use.
_REFLECT_FN = re.compile(r"\b(?:reflect|java_method)\s*\(", re.IGNORECASE)


def assert_read_only_sql(sql: str) -> str:
    """Reject anything that is not a single SELECT/WITH read statement.

    Raises Text2SqlRetrievalError on: empty output, a statement whose
    first token is not SELECT/WITH, an internal statement separator
    (``;`` anywhere but trailing), or a write/DDL verb anywhere in the
    de-commented text.  Returns the input unchanged when it passes, so
    callers can inline it.  A hallucinated or prompt-injected
    ``DROP TABLE`` / ``INSERT OVERWRITE`` must fail HERE, not execute.
    """
    stripped = _SQL_COMMENT.sub(" ", sql or "").strip()
    if not stripped:
        raise Text2SqlRetrievalError("Failed to get search result: empty SQL")
    body = stripped.rstrip(";").strip()
    if ";" in body:
        raise Text2SqlRetrievalError(
            "Failed to get search result: multi-statement SQL rejected "
            f"(read-only guard): {sql!r}"
        )
    if not _READONLY_FIRST.match(body):
        raise Text2SqlRetrievalError(
            "Failed to get search result: only SELECT/WITH statements are "
            f"allowed (read-only guard): {sql!r}"
        )
    m = _WRITE_VERB.search(body)
    if m:
        raise Text2SqlRetrievalError(
            f"Failed to get search result: write verb {m.group(0)!r} "
            f"rejected (read-only guard): {sql!r}"
        )
    if _SCRIPT_USING.search(body):
        raise Text2SqlRetrievalError(
            "Failed to get search result: script transformation "
            f"(USING <string>) rejected (read-only guard): {sql!r}"
        )
    m = _REFLECT_FN.search(body)
    if m:
        raise Text2SqlRetrievalError(
            f"Failed to get search result: {m.group(0).rstrip('(').strip()!r} "
            f"rejected (read-only guard): {sql!r}"
        )
    return sql


def assert_read_only_plan(spark, sql: str) -> str:
    """Structural second gate: parse (don't run) the statement and reject
    any logical plan containing a ScriptTransformation node or whose root
    is a Command/Statement (DML/DDL).  The lexical guard is the first
    line of defense; this one survives grammar corners the regexes miss,
    because it checks what Spark's own parser UNDERSTOOD rather than what
    the text looks like.  Parse failures are reported as
    Text2SqlRetrievalError (the LLM produced invalid SQL — same class the
    executor would raise later, caught earlier)."""
    try:
        jplan = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
    except Exception as e:  # ParseException via py4j
        raise Text2SqlRetrievalError(
            f"Failed to get search result: {e}"
        ) from e
    jvm = spark._jvm
    # fail closed: a class missing from this Spark build raises here
    # rather than silently shrinking the banned list
    banned = [
        jvm.java.lang.Class.forName(cls)
        for cls in (
            # every DDL/DML/side-effect plan extends one of these two
            "org.apache.spark.sql.catalyst.plans.logical.Command",
            "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
            # arbitrary shell execution
            "org.apache.spark.sql.catalyst.plans.logical.ScriptTransformation",
        )
    ]
    # walk the parsed tree (children() covers the main plan; WITH ctes and
    # nested queries are ordinary children at parse time)
    stack = [jplan]
    while stack:
        node = stack.pop()
        for k in banned:
            if k.isInstance(node):
                raise Text2SqlRetrievalError(
                    "Failed to get search result: non-query plan node "
                    f"{node.getClass().getSimpleName()!r} rejected "
                    f"(read-only guard): {sql!r}"
                )
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    # backstop for plans printed via innerChildren (subquery expressions):
    # a conservative substring check — a false positive from an alias
    # literally named ScriptTransformation is cheaper than a shell command
    # running with session privileges
    if "ScriptTransformation" in jplan.treeString():
        raise Text2SqlRetrievalError(
            "Failed to get search result: script transformation plan "
            f"rejected (read-only guard): {sql!r}"
        )
    return sql


def extract_sql(text: str) -> str:
    """Extract the query from model output.

    Mirrors extract_cypher's fence handling (text2cypher.py:66-68): the
    first triple-backtick block wins, else the whole text; additionally a
    leading language tag (```sql\\n...) is stripped — the common fenced
    form for SQL.  The reference's multi-word-identifier backtick repair
    targets Cypher label/rel-type positions that have no Spark SQL
    equivalent; Spark SQL identifiers needing quoting must already be
    backticked by the model (the prompt says so).
    """
    matches = _FENCE.findall(text or "")
    query = matches[0] if matches else (text or "")
    query = _LANG_TAG.sub("", query)
    return query.strip()


# ---------------------------------------------------------------------------
# schema rendering (reference get_schema text format, schema.py:183-231)
# ---------------------------------------------------------------------------


def render_graph_schema(
    nodes: DataFrame, edges: DataFrame, is_enhanced: bool = True
) -> str:
    """Serialize the observed graph shape in the reference's get_schema
    text format (root schema.py:183-231 / format_schema:458-497) with
    INFERRED property types, value samples and numeric ranges (enhanced
    form, reference enhance_schema:853-913) — not STRING-everywhere —
    plus the Spark view contract the generated SQL must target."""
    from neo4j_graphrag_python_spark.operators.schema_inference import (
        format_schema,
        get_structured_schema,
    )

    schema = get_structured_schema(nodes, edges)
    return (
        format_schema(schema, is_enhanced=is_enhanced)
        + "\n\nSQL views:\n"
        + f"{NODES_VIEW}(id STRING, label STRING, properties MAP<STRING,STRING>,"
        " is_entity BOOLEAN)\n"
        + f"{EDGES_VIEW}(start_node_id STRING, end_node_id STRING, type STRING,"
        " properties MAP<STRING,STRING>)\n"
        "Access node properties with properties['name'].  Quote multi-word"
        " identifiers with backticks."
    )


def register_graph_views(
    spark: SparkSession, nodes: DataFrame, edges: DataFrame
) -> tuple[str, str]:
    """Expose the graph as the two SQL views the generated queries target."""
    nodes.createOrReplaceTempView(NODES_VIEW)
    edges.createOrReplaceTempView(EDGES_VIEW)
    return NODES_VIEW, EDGES_VIEW


# ---------------------------------------------------------------------------
# prompt (reference Text2CypherTemplate, generation/prompts.py:114-160)
# ---------------------------------------------------------------------------


class Text2SqlTemplate(PromptTemplate):
    DEFAULT_TEMPLATE = """
Task: Generate a Spark SQL statement for querying a property graph exposed
as two views from a user input.

Schema:
{schema}

Examples (optional):
{examples}

Input:
{query_text}

Do not use any tables, properties or relationship types not included in the
schema.
Do not include triple backticks ``` or any additional text except the
generated SQL statement in your response.

SQL query:
"""
    EXPECTED_INPUTS = ["query_text"]

    def format(
        self,
        schema: str | None = None,
        examples: str | None = None,
        query_text: str = "",
        **kwargs: Any,
    ) -> str:
        return super().format(
            schema=schema or "",
            examples=examples or "",
            # empty query_text fails required-input validation, like the
            # base PromptTemplate contract (prompts.py:26-92)
            query_text=query_text or None,
            **kwargs,
        )


# ---------------------------------------------------------------------------
# the retriever
# ---------------------------------------------------------------------------


@dataclass
class Text2SqlResult:
    records: DataFrame
    sql: str
    prompt: str

    @property
    def metadata(self) -> dict:
        # reference returns the generated query in metadata["cypher"]
        # (text2cypher.py:227-231)
        return {"sql": self.sql}


class Text2SqlRetriever:
    """NL → Spark SQL → DataFrame over the registered graph views.

    Mirrors Text2CypherRetriever's contract (text2cypher.py:93-231):
      * schema supplied, or fetched by introspection at init (get_schema →
        render_graph_schema), SchemaFetchError on failure;
      * optional examples list joined by newlines into the prompt;
      * optional custom_prompt replacing the default template;
      * search-time prompt_params may override schema/examples;
      * the generated query is fence-stripped (extract_sql), checked by
        the read-only guard (assert_read_only_sql — Neo4j enforces
        read-only routing server-side; Spark cannot, so the guard is in
        code), and executed; ParseException surfaces as
        Text2SqlRetrievalError with the Spark message, like
        CypherSyntaxError → Text2CypherRetrievalError.
    """

    def __init__(
        self,
        spark: SparkSession,
        llm_fn: LlmFn,
        nodes: DataFrame | None = None,
        edges: DataFrame | None = None,
        schema_text: str | None = None,
        examples: list[str] | None = None,
        custom_prompt: str | None = None,
    ) -> None:
        self.spark = spark
        self.llm_fn = llm_fn
        self.examples = examples or []
        self.custom_prompt = custom_prompt
        if nodes is not None and edges is not None:
            register_graph_views(spark, nodes, edges)
            if schema_text is None and custom_prompt is None:
                try:
                    schema_text = render_graph_schema(nodes, edges)
                except Exception as e:  # noqa: BLE001 - mirror SchemaFetchError
                    raise SchemaFetchError(
                        f"Failed to fetch schema for Text2SqlRetriever: {e}"
                    ) from e
        self.schema_text = schema_text or ""

    def get_search_results(
        self, query_text: str, prompt_params: dict[str, Any] | None = None
    ) -> Text2SqlResult:
        if not isinstance(query_text, str) or not query_text:
            raise ValueError("query_text must be a non-empty string")
        template = Text2SqlTemplate(template=self.custom_prompt)
        params = dict(prompt_params or {})
        examples = params.pop("examples", None) or "\n".join(self.examples)
        schema = params.pop("schema", None) or self.schema_text
        prompt = template.format(
            schema=schema, examples=examples, query_text=query_text, **params
        )
        raw = self.llm_fn(prompt)
        sql = assert_read_only_sql(extract_sql(raw))
        assert_read_only_plan(self.spark, sql)
        try:
            records = self.spark.sql(sql)
        except Exception as e:
            from pyspark.errors import AnalysisException, ParseException

            # ParseException = syntax; AnalysisException = hallucinated
            # column/table — both are "the LLM produced an invalid query",
            # the condition CypherSyntaxError covers for the reference
            if isinstance(e, (ParseException, AnalysisException)):
                raise Text2SqlRetrievalError(
                    f"Failed to get search result: {e}"
                ) from e
            raise
        return Text2SqlResult(records=records, sql=sql, prompt=prompt)

    def search(self, query_text: str, **kwargs: Any) -> Text2SqlResult:
        return self.get_search_results(query_text, **kwargs)
