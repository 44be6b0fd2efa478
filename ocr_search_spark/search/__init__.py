"""Search layer: FTS predicates, ranking, trigram similarity, snippets.

Spark-first rebuild of the reference's Postgres search path
(app/search.py:10-99 + the tsvector trigger alembic/versions/0001_init.py:
31-53 and GIN indexes app/models.py:22-34). ``engine`` builds the postings
and answers queries; ``analysis`` holds the column expressions,
``websearch`` the query grammar and ``ranking`` the scorers.

Import the submodule you need; this package re-exports nothing.
"""
