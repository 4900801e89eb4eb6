"""Session factory guards that need no real Spark restart."""

from types import SimpleNamespace

from grisp_spark import session


class _StubSession:
    def __init__(self, app_id):
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self.sql_calls = []

    def sql(self, text):
        self.sql_calls.append(text)
        return SimpleNamespace(collect=lambda: [])


def test_collation_warmup_once_per_application(monkeypatch):
    monkeypatch.setattr(session, "_COLLATION_WARMED", set())
    first, restarted, again = (
        _StubSession("local-1"), _StubSession("local-2"), _StubSession("local-1")
    )
    session._warm_collation_support(first)
    session._warm_collation_support(restarted)
    session._warm_collation_support(again)
    assert len(first.sql_calls) == 1
    assert len(restarted.sql_calls) == 1
    assert again.sql_calls == []
