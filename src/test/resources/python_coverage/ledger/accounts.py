from __future__ import annotations

import enum
from typing import Iterator


class AccountKind(enum.Enum):
    ASSET = "asset"
    LIABILITY = "liability"
    EQUITY = "equity"
    INCOME = "income"
    EXPENSE = "expense"

    @property
    def sign(self) -> int:
        return 1 if self in (AccountKind.ASSET, AccountKind.EXPENSE) else -1


class Account:
    """A named account holding a balance in cents."""

    __slots__ = ("name", "kind", "_balance", "children")

    def __init__(self, name: str, kind: AccountKind, parent: "Account | None" = None):
        self.name = name
        self.kind = kind
        self._balance = 0
        self.children = []
        if parent is not None:
            parent.children.append(self)

    def __repr__(self) -> str:
        return f"Account({self.name!r}, {self.kind.value})"

    @property
    def balance(self) -> int:
        return self._balance + sum(c.balance for c in self.children)

    def apply(self, cents: int) -> None:
        self._balance += cents * self.kind.sign

    def walk(self) -> Iterator["Account"]:
        yield self
        for child in self.children:
            yield from child.walk()

    class Snapshot:
        def __init__(self, account: "Account"):
            self.name = account.name
            self.balance = account.balance

        class Diff:
            def __init__(self, before, after):
                self.delta = after.balance - before.balance

            def __bool__(self):
                return self.delta != 0

    def snapshot(self) -> "Account.Snapshot":
        return Account.Snapshot(self)


def chart_of_accounts(root: Account) -> dict:
    """Flatten an account tree into ``{name: balance}``."""
    return {a.name: a.balance for a in root.walk()}
