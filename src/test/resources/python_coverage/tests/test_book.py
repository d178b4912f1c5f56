import pytest

from ledger.book import Book, Entry, UnbalancedError, post_many

SAMPLE_LINES = [
    "cash, sales, 1500, first sale",
    "cash, sales, 250",
]
EXPECTED_CASH: int = 1750


def test_post_moves_balances(book):
    book.post(Entry("cash", "sales", 100))
    assert book.accounts["cash"].balance == 100


def test_rejects_non_positive(book):
    with pytest.raises(UnbalancedError):
        book.post(Entry("cash", "sales", 0))


@pytest.mark.parametrize("line,cents", [("a, b, 5", 5), ("a, b, 12, memo", 12)])
def test_parse_line(line, cents):
    assert Book.parse_line(line).cents == cents


class TestTransactions:
    def test_rollback_restores_balances(self, book):
        def failing():
            with book.transaction():
                book.post(Entry("cash", "sales", 10))
                raise RuntimeError("boom")

        with pytest.raises(RuntimeError):
            failing()
        assert book.accounts["cash"].balance == 0
        assert book.journal == []

    def test_post_many_counts(self, book):
        assert post_many(book, [Entry("cash", "sales", 1)] * 3) == 3

    class TestNested:
        def test_trial_balance_is_zero(self, book):
            post_many(book, [Entry("cash", "sales", 7)])
            assert book.trial_balance() == 0


def test_from_lines(accounts):
    book = Book.from_lines(accounts, SAMPLE_LINES)
    assert book.accounts["cash"].balance == EXPECTED_CASH


def test_audit_trail_records_posts(book):
    """The audit decorator wraps post.

    A subclass could also audit itself::

        class Audited(Book):
            def post(self, entry): ...
    """
    book.post(Entry("cash", "sales", 3))
    assert book.audit_trail == ["post"]
