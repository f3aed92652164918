"""``session_memo``: one build per (session, key), same object on a hit,
entries of other sessions dropped, bounded size."""

from types import SimpleNamespace

from go_whisper_spark.session import MEMO_MAX_ENTRIES, session_memo


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_builds_once_per_session_and_key():
    memo, builds = {}, []

    def build():
        builds.append(1)
        return object()

    a = _session("app-1")
    first = session_memo(memo, a, "k", build)
    assert session_memo(memo, a, "k", build) is first
    assert len(builds) == 1
    session_memo(memo, a, "other", build)
    assert len(builds) == 2
    # a new application drops every entry of the old one
    b = _session("app-2")
    assert session_memo(memo, b, "k", build) is not first
    assert list(memo) == [("app-2", "k")]


def test_session_memo_is_bounded():
    memo, s = {}, _session("app-1")
    for k in range(MEMO_MAX_ENTRIES + 5):
        session_memo(memo, s, k, object)
    assert len(memo) <= MEMO_MAX_ENTRIES
    assert ("app-1", MEMO_MAX_ENTRIES + 4) in memo
