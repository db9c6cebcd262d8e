-- ClickHouse schema contract of the reference deployment: the eight
-- ReplacingMergeTree tables and the ALTER that widens the action enum.
-- DdlParitySpec parses this file and diffs it against ClickHouseDdl.

CREATE TABLE actions
(
    block_height UInt64 COMMENT '',
    block_hash String COMMENT '',
    block_timestamp DateTime64(9, 'UTC') COMMENT '',
    transaction_hash String COMMENT '',
    receipt_id String COMMENT '',
    receipt_index UInt32 COMMENT '',
    action_index UInt16 COMMENT '',
    signer_id String COMMENT '',
    signer_public_key String COMMENT '',
    predecessor_id String COMMENT '',
    account_id String COMMENT '',
    status Enum('FAILURE', 'SUCCESS') COMMENT '',
    action Enum('CREATE_ACCOUNT', 'DEPLOY_CONTRACT', 'FUNCTION_CALL', 'TRANSFER', 'STAKE', 'ADD_KEY', 'DELETE_KEY', 'DELETE_ACCOUNT', 'DELEGATE', 'NON_REFUNDABLE_STORAGE_TRANSFER') COMMENT '',
    action_json String COMMENT '',
    input_data_ids Array(String) COMMENT '',
    status_success_value Nullable(String) COMMENT '',
    status_success_receipt Nullable(String) COMMENT '',
    status_failure Nullable(String) COMMENT '',
    contract_hash Nullable(String) COMMENT '',
    public_key Nullable(String) COMMENT '',
    access_key_contract_id Nullable(String) COMMENT '',
    deposit Nullable(UInt128) COMMENT '',
    gas_price UInt128 COMMENT '',
    attached_gas Nullable(UInt64) COMMENT '',
    gas_burnt UInt64 COMMENT '',
    tokens_burnt UInt128 COMMENT '',
    method_name Nullable(String) COMMENT '',
    args Nullable(String) COMMENT '',
    args_account_id Nullable(String) COMMENT '',
    args_new_account_id Nullable(String) COMMENT '',
    args_owner_id Nullable(String) COMMENT '',
    args_receiver_id Nullable(String) COMMENT '',
    args_sender_id Nullable(String) COMMENT '',
    args_token_id Nullable(String) COMMENT '',
    args_amount Nullable(UInt128) COMMENT '',
    args_balance Nullable(UInt128) COMMENT '',
    args_nft_contract_id Nullable(String) COMMENT '',
    args_nft_token_id Nullable(String) COMMENT '',
    return_value_int Nullable(UInt128) COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (block_height, account_id)
ORDER BY (block_height, account_id, receipt_index, action_index);

alter table actions modify column action Enum('CREATE_ACCOUNT', 'DEPLOY_CONTRACT', 'FUNCTION_CALL', 'TRANSFER', 'STAKE', 'ADD_KEY', 'DELETE_KEY', 'DELETE_ACCOUNT', 'DELEGATE', 'NON_REFUNDABLE_STORAGE_TRANSFER', 'DEPLOY_GLOBAL_CONTRACT', 'DEPLOY_GLOBAL_CONTRACT_BY_ACCOUNT_ID', 'USE_GLOBAL_CONTRACT', 'USE_GLOBAL_CONTRACT_BY_ACCOUNT_ID');

CREATE TABLE events
(
    block_height UInt64 COMMENT '',
    block_hash String COMMENT '',
    block_timestamp DateTime64(9, 'UTC') COMMENT '',
    transaction_hash String COMMENT '',
    receipt_id String COMMENT '',
    receipt_index UInt32 COMMENT '',
    log_index UInt16 COMMENT '',
    signer_id String COMMENT '',
    signer_public_key String COMMENT '',
    predecessor_id String COMMENT '',
    account_id String COMMENT '',
    status Enum('FAILURE', 'SUCCESS') COMMENT '',
    log String COMMENT '',
    version Nullable(String) COMMENT '',
    standard Nullable(String) COMMENT '',
    event Nullable(String) COMMENT '',
    data_account_id Nullable(String) COMMENT '',
    data_owner_id Nullable(String) COMMENT '',
    data_old_owner_id Nullable(String) COMMENT '',
    data_new_owner_id Nullable(String) COMMENT '',
    data_liquidation_account_id Nullable(String) COMMENT '',
    data_authorized_id Nullable(String) COMMENT '',
    data_token_ids Array(String) COMMENT '',
    data_token_id Nullable(String) COMMENT '',
    data_position Nullable(String) COMMENT '',
    data_amount Nullable(UInt128) COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (block_height, account_id)
ORDER BY (block_height, account_id, receipt_index, log_index);

CREATE TABLE data
(
    block_height UInt64 COMMENT '',
    block_hash String COMMENT '',
    block_timestamp DateTime64(9, 'UTC') COMMENT '',
    receipt_id String COMMENT '',
    receipt_index UInt32 COMMENT '',
    predecessor_id String COMMENT '',
    account_id String COMMENT '',
    data_id String COMMENT '',
    data Nullable(String) COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (block_height, account_id)
ORDER BY (block_height, account_id, receipt_index);

CREATE TABLE transactions
(
    transaction_hash String COMMENT '',
    signer_id String COMMENT '',
    tx_block_height UInt64 COMMENT '',
    tx_block_hash String COMMENT '',
    tx_block_timestamp DateTime64(9, 'UTC') COMMENT '',
    transaction String COMMENT '',
    last_block_height UInt64 COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (transaction_hash)
ORDER BY (transaction_hash);

CREATE TABLE account_txs
(
    account_id String COMMENT '',
    transaction_hash String COMMENT '',
    signer_id String COMMENT '',
    tx_block_height UInt64 COMMENT '',
    tx_block_timestamp DateTime64(9, 'UTC') COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (account_id, tx_block_height)
ORDER BY (account_id, tx_block_height, transaction_hash);

CREATE TABLE block_txs
(
    block_height UInt64 COMMENT '',
    block_hash String COMMENT '',
    block_timestamp DateTime64(9, 'UTC') COMMENT '',
    transaction_hash String COMMENT '',
    signer_id String COMMENT '',
    tx_block_height UInt64 COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (block_height)
ORDER BY (block_height, transaction_hash);

CREATE TABLE receipt_txs
(
    receipt_id String COMMENT '',
    transaction_hash String COMMENT '',
    signer_id String COMMENT '',
    tx_block_height UInt64 COMMENT '',
    tx_block_timestamp DateTime64(9, 'UTC') COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (tx_block_height)
ORDER BY (tx_block_height, receipt_id);

CREATE TABLE blocks
(
    block_height UInt64 COMMENT '',
    block_hash String COMMENT '',
    block_timestamp DateTime64(9, 'UTC') COMMENT '',
    prev_block_height Nullable(UInt64) COMMENT '',
    epoch_id String COMMENT '',
    chunks_included UInt64 COMMENT '',
    prev_block_hash String COMMENT '',
    author_id String COMMENT '',
    signature String COMMENT '',
    protocol_version UInt32 COMMENT ''
) ENGINE = ReplacingMergeTree
PRIMARY KEY (block_height)
ORDER BY (block_height);
